"""Round-4 fixes: bowtie rectangle-probe guard, probe row-cap, automatic
skew salting, components id-type guard, GEMM block loud-failure, dedup
cache release hook."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.operators import joins as J
from incubator_sedona_spark.operators.joins import spatial_join


def _polygon_wkb(ring):
    """Minimal WKB writer for a single-ring polygon."""
    import struct

    out = struct.pack("<BI", 1, 3) + struct.pack("<I", 1) + struct.pack("<I", len(ring))
    for x, y in ring:
        out += struct.pack("<dd", float(x), float(y))
    return out


RECT = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
BOWTIE = [(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)]
REPEAT = [(0.0, 0.0), (4.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]


class TestRectangleProbe:
    def test_ring_is_rectangle(self):
        assert J._ring_is_rectangle(np.array(RECT))
        # counter-clockwise and rotated starts are still rectangles
        assert J._ring_is_rectangle(np.array(RECT[::-1]))
        assert J._ring_is_rectangle(np.array(RECT[1:] + RECT[1:2]))

    def test_bowtie_rejected(self):
        # 2 distinct xs/ys and closed — but the diagonal traversal makes it
        # a bowtie, NOT its own bbox (round-3 ADVICE)
        assert not J._ring_is_rectangle(np.array(BOWTIE))

    def test_repeated_corner_rejected(self):
        assert not J._ring_is_rectangle(np.array(REPEAT))

    def test_bowtie_join_matches_kernel(self, spark):
        polys = spark.createDataFrame(
            pd.DataFrame({"pid": [0], "wkb": [_polygon_wkb(BOWTIE)]})
        )
        # point inside the bbox but OUTSIDE the bowtie (center-top region)
        pts = spark.createDataFrame(
            pd.DataFrame({"k": [0, 1], "x": [2.0, 1.0], "y": [3.0, 0.5]})
        )
        grid = Grid(0.0, 0.0, 5.0, 5.0, 2)
        got_auto = spatial_join(
            polys, pts, "contains", grid=grid, right_point_cols=("x", "y"),
            left_rect="auto",
        ).select("pid", "k").toPandas()
        got_kernel = spatial_join(
            polys, pts, "contains", grid=grid, right_point_cols=("x", "y"),
            left_rect=False,
        ).select("pid", "k").toPandas()
        assert sorted(got_auto["k"]) == sorted(got_kernel["k"])
        # the bowtie covers neither probe point under even-odd ray casting:
        # (2,3) is in the bbox notch, (1,0.5) is below the lower triangle
        assert 0 not in set(got_auto["k"])

    def test_probe_declines_above_row_cap(self, spark, monkeypatch):
        monkeypatch.setattr(J, "RECT_PROBE_MAX_ROWS", 5)
        big = spark.createDataFrame(
            pd.DataFrame({"pid": range(10), "wkb": [_polygon_wkb(RECT)] * 10})
        )
        assert J._left_all_rectangles(big, "wkb") is False
        small = big.limit(3)
        assert J._left_all_rectangles(small, "wkb") is True


class TestSaltedJoin:
    def _planted(self, spark, n=400):
        rng = np.random.RandomState(7)
        # half the points uniform, half packed into one cell
        x = np.concatenate([rng.uniform(0, 40, n), rng.uniform(10.1, 10.9, n)])
        y = np.concatenate([rng.uniform(0, 40, n), rng.uniform(10.1, 10.9, n)])
        pts = spark.createDataFrame(
            pd.DataFrame({"k": np.arange(2 * n), "x": x, "y": y})
        )
        zones = spark.createDataFrame(
            pd.DataFrame(
                {
                    "zid": [0, 1],
                    "wkb": [
                        _polygon_wkb(
                            [(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0), (5.0, 5.0)]
                        ),
                        _polygon_wkb(
                            [(20.0, 20.0), (35.0, 20.0), (35.0, 35.0), (20.0, 35.0), (20.0, 20.0)]
                        ),
                    ],
                }
            )
        )
        return zones, pts

    def test_salted_equals_unsalted(self, spark):
        zones, pts = self._planted(spark)
        grid = Grid(0.0, 0.0, 40.01, 40.01, 3)
        base = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y")
        ).select("zid", "k").toPandas()
        salted = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y"),
            salt=True, salt_min_rows=50,
        ).select("zid", "k").toPandas()
        key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
        assert key(salted) == key(base)
        assert len(base) > 0

    def test_ledger_driven_salt(self, spark):
        """The full skew loop: per-cell metrics ledger -> hot-cell dict ->
        salted join, no detection pass over the current input."""
        from incubator_sedona_spark.plans.metrics import (
            cell_metrics,
            hot_cells_from_ledger,
        )

        zones, pts = self._planted(spark)
        grid = Grid(0.0, 0.0, 40.01, 40.01, 3)
        ledger = cell_metrics(pts, grid, "x", "y")
        hot = hot_cells_from_ledger(ledger, min_rows=100, top_k=4)
        assert len(hot) >= 1
        base = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y")
        ).select("zid", "k").toPandas()
        salted = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y"),
            salt=hot,
        ).select("zid", "k").toPandas()
        key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
        assert key(salted) == key(base)

    def test_salt_composes_with_join_types(self, spark):
        """salt + how=left_semi / existence give identical results to their
        unsalted forms (the salt only subdivides the shuffle key; the
        back-join on the persisted row id is untouched)."""
        zones, pts = self._planted(spark)
        grid = Grid(0.0, 0.0, 40.01, 40.01, 3)
        for how, cols in [("left_semi", ["zid"]), ("existence", ["zid", "exists"])]:
            base = spatial_join(
                zones, pts, "contains", grid=grid, right_point_cols=("x", "y"),
                how=how,
            ).select(*cols).toPandas()
            salted = spatial_join(
                zones, pts, "contains", grid=grid, right_point_cols=("x", "y"),
                how=how, salt=True, salt_min_rows=50,
            ).select(*cols).toPandas()
            key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
            assert key(salted) == key(base), how

    def test_distance_join_salted(self, spark):
        """distance_join takes the same salt option; output identical."""
        from incubator_sedona_spark.operators.joins import distance_join

        rng = np.random.RandomState(13)
        # list-built sides carry no optimizer statistics, so both calls take
        # the cell join (where salt applies), not the broadcast probe
        xa, ya = rng.uniform(0, 40, 100), rng.uniform(0, 40, 100)
        a = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xa, ya))],
            "ka long, x double, y double",
        )
        # the RIGHT side carries the planted hot cell (hot-cell detection
        # pre-aggregates the probe/right side)
        xb = np.concatenate([rng.uniform(0, 40, 150), rng.uniform(10.1, 10.9, 150)])
        yb = np.concatenate([rng.uniform(0, 40, 150), rng.uniform(10.1, 10.9, 150)])
        b = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xb, yb))],
            "kb long, x double, y double",
        )
        kwargs = dict(
            left_point_cols=("x", "y"), right_point_cols=("x", "y"),
        )
        base = distance_join(a, b, 2.0, **kwargs).select("ka", "kb").toPandas()
        salted_df = distance_join(a, b, 2.0, salt=True, salt_min_rows=50, **kwargs)
        plan = salted_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in plan
        salted = salted_df.select("ka", "kb").toPandas()
        key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
        assert key(salted) == key(base)
        assert len(base) > 0

    def test_salt_dict_path(self, spark):
        """Ledger-driven dict of hot cells skips the pre-aggregate and still
        produces identical output."""
        zones, pts = self._planted(spark)
        grid = Grid(0.0, 0.0, 40.01, 40.01, 3)
        hot_cell = int(
            pts.select(
                grid.point_cell_col(F.col("x"), F.col("y")).alias("c")
            ).groupBy("c").count().orderBy(F.desc("count")).first()["c"]
        )
        base = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y")
        ).select("zid", "k").toPandas()
        salted = spatial_join(
            zones, pts, "contains", grid=grid, right_point_cols=("x", "y"),
            salt={hot_cell: 999},
        ).select("zid", "k").toPandas()
        key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
        assert key(salted) == key(base)


class TestComponentsIdGuard:
    def test_string_ids_raise(self, spark):
        from incubator_sedona_spark.pipeline.components import connected_components

        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": ["a", "b"], "id_b": ["b", "c"]})
        )
        with pytest.raises(TypeError, match="integral ids"):
            connected_components(edges)

    def test_long_ids_still_work(self, spark):
        from incubator_sedona_spark.pipeline.components import connected_components

        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]})
        )
        got = connected_components(edges).toPandas().sort_values("id")
        assert list(got["component"]) == [1, 1, 1]

    def test_long_chain_converges_via_pointer_jumping(self, spark):
        """A 600-node path has diameter 600 — plain label propagation needs
        600 rounds (the pre-round-4 code raised at max_iter=50); pointer
        jumping converges in O(log diameter).  checkpoint_every=3 keeps the
        per-round plan lineage short (the property being tested is the
        round count, not lineage handling)."""
        from incubator_sedona_spark.pipeline.components import connected_components

        n = 600
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
        )
        got = connected_components(edges, max_iter=22, checkpoint_every=3).toPandas()
        assert len(got) == n
        assert set(got["component"]) == {0}

    def test_two_chains_and_singleton(self, spark):
        from incubator_sedona_spark.pipeline.components import connected_components

        e = [(i, i + 1) for i in range(0, 99)] + [(200 + i, 201 + i) for i in range(50)]
        edges = spark.createDataFrame(pd.DataFrame(e, columns=["id_a", "id_b"]))
        nodes = spark.createDataFrame(pd.DataFrame({"id": list(range(100)) + list(range(200, 251)) + [999]}))
        got = connected_components(edges, nodes=nodes, max_iter=25).toPandas()
        comp = dict(zip(got["id"], got["component"]))
        assert all(comp[i] == 0 for i in range(100))
        assert all(comp[i] == 200 for i in range(200, 251))
        assert comp[999] == 999


class TestGemmBlockLoudFailure:
    def test_missing_block_raises(self):
        from incubator_sedona_spark.pipeline.dedup import _load_gemm_block

        with pytest.raises(FileNotFoundError, match="no parquet files"):
            _load_gemm_block("/tmp/iss_definitely_missing_gemm_block_xyz")

    def test_missing_scratch_raises_driver_side(self, spark, tmp_path, monkeypatch):
        """A scratch dir whose write produced nothing visible fails at plan
        time instead of returning zero pairs."""
        from incubator_sedona_spark.pipeline import dedup as DD

        df = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": [1, 2], "embedding": [[1.0, 0.0], [1.0, 0.0]]}
            )
        )
        monkeypatch.setattr(
            DD, "_parquet_files_in", lambda p: ([], None)
        )
        with pytest.raises(FileNotFoundError, match="no GEMM blocks visible"):
            DD.embedding_cosine_pairs_exact(df, scratch_dir=str(tmp_path / "s"))

    def test_exact_pairs_still_work(self, spark, tmp_path):
        from incubator_sedona_spark.pipeline.dedup import embedding_cosine_pairs_exact

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": [1, 2, 3],
                    "embedding": [[1.0, 0.0], [0.99, 0.14], [0.0, 1.0]],
                }
            )
        )
        got = embedding_cosine_pairs_exact(
            df, threshold=0.95, scratch_dir=str(tmp_path / "blocks")
        ).toPandas()
        assert sorted(map(tuple, got[["id_a", "id_b"]].itertuples(index=False))) == [
            (1, 2)
        ]


def _linestring_wkb(coords):
    import struct

    out = struct.pack("<BI", 1, 2) + struct.pack("<I", len(coords))
    for x, y in coords:
        out += struct.pack("<dd", float(x), float(y))
    return out


def _point_wkb(x, y):
    import struct

    return struct.pack("<BIdd", 1, 1, float(x), float(y))


class TestKnnJoinGeometries:
    def test_mixed_geometry_right_side_matches_brute_force(self, spark):
        from incubator_sedona_spark.geom import kernel as K
        from incubator_sedona_spark.geom import wkb as W
        from incubator_sedona_spark.operators.knn import knn_join

        rng = np.random.RandomState(11)
        n_left, k = 40, 3
        lx = rng.uniform(0, 100, n_left)
        ly = rng.uniform(0, 100, n_left)
        left = spark.createDataFrame(
            pd.DataFrame({"lid": np.arange(n_left), "x": lx, "y": ly})
        )

        geoms = []
        for i in range(6):  # boxes
            x0, y0 = rng.uniform(0, 90, 2)
            s = rng.uniform(2, 8)
            geoms.append(
                _polygon_wkb(
                    [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
                )
            )
        for i in range(6):  # polylines
            pts = rng.uniform(0, 100, (4, 2))
            geoms.append(_linestring_wkb([tuple(p) for p in pts]))
        for i in range(8):  # points
            geoms.append(_point_wkb(*rng.uniform(0, 100, 2)))
        right = spark.createDataFrame(
            pd.DataFrame({"rid": np.arange(len(geoms)), "wkb": geoms})
        )

        from incubator_sedona_spark.cells import Grid

        grid = Grid(0.0, 0.0, 100.01, 100.01, 3)
        got = (
            knn_join(
                left, right, k, grid, "lid", right_geom="wkb", tiebreak="rid"
            )
            .select("lid", "rid", "knn_dist")
            .toPandas()
        )

        # brute force with the same kernel distance
        pts = np.column_stack([lx, ly])
        D = np.column_stack(
            [K.points_to_geometry_dist(W.loads(b), pts) for b in geoms]
        )
        expect = set()
        for li in range(n_left):
            order = np.lexsort((np.arange(len(geoms)), D[li]))[:k]
            expect |= {(li, int(r)) for r in order}
        assert set(map(tuple, got[["lid", "rid"]].itertuples(index=False))) == expect
        assert len(got) == n_left * k

    def test_point_path_unchanged(self, spark):
        from incubator_sedona_spark.cells import Grid
        from incubator_sedona_spark.operators.knn import knn_join

        rng = np.random.RandomState(3)
        left = spark.createDataFrame(
            pd.DataFrame(
                {"lid": range(20), "x": rng.uniform(0, 50, 20), "y": rng.uniform(0, 50, 20)}
            )
        )
        right = spark.createDataFrame(
            pd.DataFrame(
                {"rid": range(50), "x": rng.uniform(0, 50, 50), "y": rng.uniform(0, 50, 50)}
            )
        )
        grid = Grid(0.0, 0.0, 50.01, 50.01, 3)
        got = knn_join(left, right, 2, grid, "lid", tiebreak="rid").toPandas()
        assert len(got) == 40


class TestSnapRounding:
    """Round-4 overlay snap-rounding fallback (probe-hazard detection)."""

    @staticmethod
    def _area(rings):
        tot = 0.0
        for r in rings:
            s = 0.0
            for k in range(len(r) - 1):
                s += r[k][0] * r[k + 1][1] - r[k + 1][0] * r[k][1]
            tot += abs(s) / 2
        return tot

    def test_sliver_collapses_deterministically(self):
        from incubator_sedona_spark.geom import clip as C
        from incubator_sedona_spark.geom import wkb as W

        # 1e-6 overlap on a 100 extent: inside the probe offset (1.6e-6) —
        # pre-round-4 this regime could misclassify; now it snap-rounds
        a = C.rings_of_geometry(W.box(0.0, 0.0, 50.000001, 100.0))
        b = C.rings_of_geometry(W.box(50.0, 0.0, 100.0, 100.0))
        union = self._area(C.overlay_rings(a, b, "union"))
        inter = self._area(C.overlay_rings(a, b, "intersection"))
        # precision-reduction contract: area error bounded by grid*perimeter
        grid = 100.0 * C._REL_EPS * C._SNAP_FACTOR
        assert abs(union - 10000.0) < grid * 500
        assert inter < grid * 500
        assert self._area(C.union_many([a, b])) == pytest.approx(union, abs=grid * 500)

    def test_hazard_not_triggered_on_clean_inputs(self):
        import numpy as np

        from incubator_sedona_spark.geom import clip as C
        from incubator_sedona_spark.geom import wkb as W

        a = C.rings_of_geometry(W.box(0.0, 0.0, 60.0, 100.0))
        b = C.rings_of_geometry(W.box(50.0, 0.0, 100.0, 100.0))
        ea, eb = C._edges_of_rings(a), C._edges_of_rings(b)
        eps = C._scale_of(ea, eb) * C._REL_EPS
        sa = C._subdivide(ea, C._split_params(ea, eb, eps))
        assert not C._probe_hazard(sa, np.concatenate([ea, eb]), eps)
        assert self._area(C.overlay_rings(a, b, "intersection")) == pytest.approx(1000.0)

    def test_exact_coincidence_stays_exact(self):
        from incubator_sedona_spark.geom import clip as C
        from incubator_sedona_spark.geom import wkb as W

        a = C.rings_of_geometry(W.box(0.0, 0.0, 50.0, 100.0))
        b = C.rings_of_geometry(W.box(50.0, 0.0, 100.0, 100.0))
        assert self._area(C.overlay_rings(a, b, "union")) == pytest.approx(10000.0)
        assert C.overlay_rings(a, b, "intersection") == []


class TestCRSWidening:
    """The EPSG widening keeps unknown codes loud."""

    def test_unknown_code_still_raises(self):
        from incubator_sedona_spark.functions.crs import transform_xy

        with pytest.raises(ValueError, match="unsupported CRS"):
            transform_xy(np.array([0.0]), np.array([0.0]), "epsg:4326", "epsg:29999")


class TestDedupReleaseHook:
    def test_release_cached(self, spark):
        from incubator_sedona_spark.pipeline import dedup as DD

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": ["hello world common text", "hello world common text!", "zzz"],
                }
            )
        )
        DD.minhash_lsh_dup_pairs(docs, threshold=0.5).count()
        assert DD.release_cached() >= 1
        assert DD.release_cached() == 0

    def test_release_cached_frees_join_row_ids(self, spark):
        """The row-id frame a left_anti spatial_join persists is pinned in
        the same registry, so release_cached() frees it."""
        from incubator_sedona_spark.pipeline import dedup as DD

        DD.release_cached()
        zones = spark.createDataFrame(
            pd.DataFrame({"zid": [0, 1], "wkb": [_polygon_wkb(RECT), _polygon_wkb(
                [(10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 12.0), (10.0, 10.0)]
            )]})
        )
        pts = spark.createDataFrame(pd.DataFrame({"k": [0, 1], "x": [1.0, 2.0], "y": [1.0, 3.0]}))
        got = spatial_join(
            zones, pts, "contains", grid=Grid(0.0, 0.0, 16.01, 16.01, 2),
            right_point_cols=("x", "y"), how="left_anti",
        ).collect()
        assert [r.zid for r in got] == [1]
        assert DD.release_cached() >= 1
        assert DD.release_cached() == 0
