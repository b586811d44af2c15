"""The workloads: seeded inputs, engine calls, and output checks.

Each workload generates its inputs once (numpy, from the seed), computes its
reference answers once, loads the inputs into the engine (repeatable, so
set-up can be timed several times), and defines one pass as an ordered list
of operations.  Every engine call goes through ``Tracer.call`` so the traced
run can put a span and a materialization boundary around it.  ``check_<op>``
compares an operation's output with the reference.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import gen, reference as ref

# engine API, imported through the package's public modules
from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.operators import joins, knn, mvt, tiling
from incubator_sedona_spark.pipeline import components, dedup, setjoin
from incubator_sedona_spark.sources import iceberg, images


def _grid(level: int) -> Grid:
    """A cell grid over the generated domain.  Passing it (and the rectangle
    flag) the way the project's own queries do keeps the joins' auto-sizing
    and rectangle probes out of the timed work."""
    return Grid(0.0, 0.0, gen.DOMAIN + 0.01, gen.DOMAIN + 0.01, level)


def _pin(df):
    df = df.persist()
    df.count()
    return df


def _pair_sums(df, a: str, b: str) -> tuple[int, int, int]:
    row = df.agg(F.count(F.lit(1)), F.sum(a), F.sum(b)).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


class Workload:
    """Routes an operation's output to its ``check_<op>`` method."""

    def check(self, op: str, result, tr) -> bool:
        return getattr(self, f"check_{op}")(result, tr)


class GeoJoin(Workload):
    """Vector spatial core over inputs pinned in executor memory."""

    name = "geo_join"
    N_POINTS = 30_000
    N_STARS = 150
    N_POLYS = 1_500  # per side
    N_DIST = 15_000  # per side
    RADIUS = 0.1
    N_KNN_LEFT = 200
    K = 5
    KNN_SAMPLE = 100

    def __init__(self, seed: int, workdir: str):
        rng = np.random.default_rng(seed)
        self.points = gen.mixed_points(rng, self.N_POINTS)
        self.stars = gen.star_rings(rng, self.N_STARS)
        self.polys_a = gen.blob_rings(rng, self.N_POLYS)
        self.polys_b = gen.blob_rings(rng, self.N_POLYS)
        self.dist_a = gen.mixed_points(rng, self.N_DIST)
        self.dist_b = gen.mixed_points(rng, self.N_DIST)
        self.knn_left = gen.mixed_points(rng, self.N_KNN_LEFT)
        self.knn_sample = rng.choice(self.N_KNN_LEFT, self.KNN_SAMPLE, replace=False)

    def reference(self) -> None:
        self.ref_pip = ref.points_in_rings(self.points, self.stars)
        self.ref_dist = ref.pairs_within(self.dist_a, self.dist_b, self.RADIUS)
        self.ref_poly = ref.polygon_pairs(self.polys_a, self.polys_b)
        self.ref_knn = ref.knn(self.knn_left[self.knn_sample], self.points, self.K)

    def load(self, spark) -> None:
        def pts(arr, id_name):
            return spark.createDataFrame(pd.DataFrame(
                {id_name: np.arange(len(arr), dtype=np.int64), "x": arr[:, 0], "y": arr[:, 1]}))

        def polys(rings, id_name):
            return spark.createDataFrame(pd.DataFrame(
                {id_name: np.arange(len(rings), dtype=np.int64),
                 "wkb": [gen.polygon_wkb(r) for r in rings]}))

        n = spark.sparkContext.defaultParallelism
        self.df_points = _pin(pts(self.points, "pid").repartition(n))
        self.df_stars = _pin(polys(self.stars, "zid"))
        self.df_pa = _pin(polys(self.polys_a, "aid"))
        self.df_pb = _pin(polys(self.polys_b, "bid"))
        self.df_da = _pin(pts(self.dist_a, "aid"))
        self.df_db = _pin(pts(self.dist_b, "bid"))
        self.df_knn = _pin(pts(self.knn_left, "lid"))

    def ops(self):
        return [("pip_join", self.pip_join), ("distance_join", self.distance_join),
                ("polygon_join", self.polygon_join), ("knn_join", self.knn_join)]

    def pip_join(self, tr):
        j = tr.call("operators.joins", joins.spatial_join, self.df_stars, self.df_points,
                    "contains", grid=_grid(6), right_point_cols=("x", "y"), left_rect=False)
        rows = j.groupBy("zid").count().collect()
        got = np.zeros(self.N_STARS, dtype=np.int64)
        for r in rows:
            got[r[0]] = r[1]
        return got

    def check_pip_join(self, got, tr) -> bool:
        tr.note("operators.joins", "pairs_out", int(got.sum()))
        return bool(np.array_equal(got, self.ref_pip))

    def distance_join(self, tr):
        j = tr.call("operators.joins", joins.distance_join, self.df_da, self.df_db, self.RADIUS,
                    grid=_grid(8), left_point_cols=("x", "y"), right_point_cols=("x", "y"))
        return _pair_sums(j, "aid", "bid")

    def check_distance_join(self, got, tr) -> bool:
        tr.note("operators.joins", "pairs_out", got[0])
        return got == self.ref_dist

    def polygon_join(self, tr):
        j = tr.call("operators.joins", joins.spatial_join, self.df_pa, self.df_pb, "intersects",
                    grid=_grid(7))
        return _pair_sums(j, "aid", "bid")

    def check_polygon_join(self, got, tr) -> bool:
        tr.note("operators.joins", "pairs_out", got[0])
        return got == self.ref_poly

    def knn_join(self, tr):
        j = tr.call("operators.knn", knn.knn_join, self.df_knn,
                    self.df_points.withColumnRenamed("x", "rx").withColumnRenamed("y", "ry"),
                    self.K, None, left_id="lid", right_x="rx", right_y="ry", tiebreak="pid")
        return j.select("lid", "pid").toPandas()

    def check_knn_join(self, got, tr) -> bool:
        if len(got) != self.N_KNN_LEFT * self.K:
            return False
        by_left = got.groupby("lid")["pid"].apply(set)
        return all(by_left.get(int(lid)) == want
                   for lid, want in zip(self.knn_sample, self.ref_knn))

    def candidates(self, tr) -> None:
        """Pre-refine candidate counts of the spatial_join calls (traced run only)."""
        for left, right, pred, kw in ((self.df_stars, self.df_points, "contains",
                                       {"grid": _grid(6), "right_point_cols": ("x", "y")}),
                                      (self.df_pa, self.df_pb, "intersects", {"grid": _grid(7)})):
            n = joins.spatial_join(left, right, pred, refine=False, **kw).count()
            tr.note_run("operators.joins", "candidate_pairs", n)
        tr.note_run("operators.joins", "refined_pairs",
                    int(self.ref_pip.sum()) + self.ref_poly[0])


class ImageTiles(Workload):
    """Image ingest: snapshot append, decode + rect-zone broadcast join +
    tiling, and an MVT tile pyramid write."""

    N_IMAGES = 300
    SIZE = 32
    N_ZONES = 200
    RES = 64  # tiles per axis over [0, 100)^2: zoom 6
    EXTENT = 4096

    def __init__(self, rng: np.random.Generator, workdir: str, captions: list[str]):
        self.corpus = gen.image_corpus(rng, self.N_IMAGES, self.SIZE, captions)
        self.zones = gen.rect_zones(rng, self.N_ZONES)
        self.workdir = workdir
        self.pass_no = 0

    def reference(self) -> None:
        c = self.corpus
        self.ref_tiles = ref.zone_tile_counts(c["lon"], c["lat"], self.zones, self.RES)
        self.ref_luma = dict(zip(c["image_id"], c["luma"]))
        self.ref_is_png = dict(zip(c["image_id"], np.array(c["fmt"]) == "png"))

    def load(self, spark) -> None:
        cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
        pdf = pd.DataFrame({k: self.corpus[k] for k in cols})
        n_part = spark.sparkContext.defaultParallelism
        self.df_images = _pin(spark.createDataFrame(pdf).repartition(n_part))
        self.df_zones = _pin(spark.createDataFrame(pd.DataFrame({
            "zone_id": np.arange(self.N_ZONES, dtype=np.int64),
            "wkb": [gen.rect_wkb(*z) for z in self.zones]})))
        self.spark = spark

    def ops(self):
        return [("ingest_commit", self.ingest_commit),
                ("decode_join_tile", self.decode_join_tile),
                ("tile_write", self.tile_write)]

    def _paths(self):
        return (os.path.join(self.workdir, f"table{self.pass_no}"),
                os.path.join(self.workdir, f"tiles{self.pass_no}"))

    def ingest_commit(self, tr):
        self.pass_no += 1
        table, _ = self._paths()
        tr.call("sources.snapshots", iceberg.write_image_table, self.df_images, table,
                snapshot_log=True)
        return table

    def check_ingest_commit(self, table, tr) -> bool:
        files = [os.path.join(d, f) for d, _, fs in os.walk(table) for f in fs]
        tr.note("sources.snapshots", "files_written", len(files))
        tr.note("sources.snapshots", "bytes_written", sum(os.path.getsize(f) for f in files))
        return bool(files)

    def decode_join_tile(self, tr):
        table, _ = self._paths()
        imgs = tr.call("sources.snapshots", iceberg.read_image_table, self.spark, table)
        feats = tr.call("sources.images", images.image_features_df, imgs)
        pts = tr.call("sources.images", images.with_derived_points, feats).persist()
        tr.keep(pts)
        j = tr.call("operators.joins", joins.spatial_join,
                    self.df_zones, pts.select("image_id", "lon", "lat", "dec_ok", "mean_luma"),
                    "contains", grid=_grid(5), right_point_cols=("lon", "lat"),
                    broadcast="left", left_rect=True)
        tiled = tr.call("operators.tiling", tiling.assign_tiles, j, "lon", "lat",
                        (0.0, 0.0, 100.0, 100.0), self.RES, self.RES)
        self.tiled = tiled.persist()
        tr.keep(self.tiled)
        counts = self.tiled.groupBy("zone_id", "tile_x", "tile_y").agg(
            F.count(F.lit(1)).alias("cnt"), F.min("dec_ok").alias("ok")).collect()
        decoded = pts.select("image_id", "dec_ok", "mean_luma").collect()
        return counts, decoded

    def check_decode_join_tile(self, got, tr) -> bool:
        counts, decoded = got
        tiles = {(r["zone_id"], r["tile_x"], r["tile_y"]): r["cnt"] for r in counts}
        ok_share = sum(bool(r["dec_ok"]) for r in decoded) / max(len(decoded), 1)
        tr.note("sources.images", "decode_ok_share", ok_share)
        tr.note("operators.joins", "pairs_out", sum(tiles.values()))
        # lossless PNG keeps the mean luma exactly; baseline JPEG within 3 levels
        luma_ok = all(abs(r["mean_luma"] - self.ref_luma[r["image_id"]])
                      <= (1e-6 if self.ref_is_png[r["image_id"]] else 3.0) for r in decoded)
        return (tiles == self.ref_tiles and ok_share == 1.0 and luma_ok
                and len(decoded) == self.N_IMAGES)

    def tile_write(self, tr):
        _, out = self._paths()
        scale = self.RES / 100.0 * self.EXTENT
        feats = self.tiled.select(
            "tile_x", "tile_y", "zone_id",
            F.least(F.lit(self.EXTENT - 1), ((F.col("lon") * scale) % self.EXTENT).cast("int")).alias("px"),
            F.least(F.lit(self.EXTENT - 1), ((F.col("lat") * scale) % self.EXTENT).cast("int")).alias("py"))
        blobs = tr.call("operators.mvt", mvt.mvt_tiles_df, feats, layer_name="images",
                        property_cols=["zone_id"])
        manifest = tr.call("operators.mvt", mvt.write_tile_pyramid, blobs, out, zoom=6)
        return manifest.select("x", "y", "bytes").collect()

    def check_tile_write(self, rows, tr) -> bool:
        _, out = self._paths()
        on_disk = sum(len(fs) for _, _, fs in os.walk(out))
        tr.note("operators.mvt", "tiles_written", len(rows))
        tr.note("operators.mvt", "bytes_written", sum(r["bytes"] for r in rows))
        want = {(x, y) for _, x, y in self.ref_tiles}
        ok = {(r["x"], r["y"]) for r in rows} == want and on_disk == len(want)
        table, _ = self._paths()
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def candidates(self, tr) -> None:
        n = joins.spatial_join(self.df_zones, self.df_images.select(
            "image_id", *images.derived_lonlat_cols(F.col("phash"))).toDF("image_id", "lon", "lat"),
            "contains", grid=_grid(5), right_point_cols=("lon", "lat"), broadcast="left",
            refine=False).count()
        tr.note_run("operators.joins", "candidate_pairs", n)
        tr.note_run("operators.joins", "refined_pairs", sum(self.ref_tiles.values()))


class TextDedup(Workload):
    """Near-duplicate document detection: MinHash LSH, exact set-similarity
    self-join, and dedup clusters."""

    N_DOCS = ImageTiles.N_IMAGES
    THRESHOLD = 0.8

    def __init__(self, rng: np.random.Generator):
        self.texts, self.planted = gen.documents(rng, self.N_DOCS)

    def reference(self) -> None:
        self.ref_planted = {(min(a, b), max(a, b)) for a, b in self.planted}

    def load(self, spark) -> None:
        self.df_docs = _pin(spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(self.N_DOCS, dtype=np.int64), "text": self.texts}))
            .repartition(spark.sparkContext.defaultParallelism))
        self.spark = spark

    def ops(self):
        return [("minhash_dedup", self.minhash_dedup), ("exact_setjoin", self.exact_setjoin),
                ("dedup_clusters", self.dedup_clusters)]

    def _pairs(self, df) -> set[tuple[int, int]]:
        return {(int(a), int(b)) for a, b in df.select("id_a", "id_b").toPandas().itertuples(index=False)}

    def minhash_dedup(self, tr):
        pairs = tr.call("pipeline.dedup", dedup.minhash_lsh_dup_pairs, self.df_docs,
                        threshold=self.THRESHOLD, verify="exact")
        out = self._pairs(pairs)
        dedup.release_cached()
        return out

    def check_minhash_dedup(self, got, tr) -> bool:
        tr.note("pipeline.dedup", "pairs_out", len(got))
        return self._sound(got) and self.ref_planted <= got and got == self.setjoin_pairs

    def exact_setjoin(self, tr):
        pairs = tr.call("pipeline.setjoin", setjoin.exact_jaccard_self_join, self.df_docs,
                        threshold=self.THRESHOLD)
        self.setjoin_pairs = self._pairs(pairs)
        return self.setjoin_pairs

    def check_exact_setjoin(self, got, tr) -> bool:
        tr.note("pipeline.setjoin", "pairs_out", len(got))
        return self._sound(got) and self.ref_planted <= got

    def _sound(self, pairs) -> bool:
        """Every reported pair really clears the threshold."""
        return all(ref.jaccard(self.texts[a], self.texts[b]) >= self.THRESHOLD - 1e-12
                   for a, b in pairs)

    def dedup_clusters(self, tr):
        edges = self.spark.createDataFrame(
            pd.DataFrame(sorted(self.setjoin_pairs), columns=["id_a", "id_b"], dtype=np.int64)
            if self.setjoin_pairs else pd.DataFrame({"id_a": [0], "id_b": [0]}).iloc[:0])
        reps = tr.call("pipeline.components", components.dedup_representatives,
                       self.df_docs, edges)
        return reps.select("doc_id", "component").toPandas()

    def check_dedup_clusters(self, got, tr) -> bool:
        labels = ref.components(self.N_DOCS, self.setjoin_pairs)
        want = set(np.nonzero(labels == np.arange(self.N_DOCS))[0].tolist())
        tr.note("pipeline.components", "components_out", len(got))
        return set(got["doc_id"].tolist()) == want and len(got) == len(want)


class ImageText:
    """Caption-bearing image corpus: the image ingest operations, then
    near-duplicate detection over the captions."""

    name = "image_text"

    def __init__(self, seed: int, workdir: str):
        rng = np.random.default_rng(seed)
        self.text = TextDedup(rng)
        self.images = ImageTiles(rng, workdir, self.text.texts)
        self.parts = (self.images, self.text)

    def reference(self) -> None:
        for p in self.parts:
            p.reference()

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def ops(self):
        return self.images.ops() + self.text.ops()

    def check(self, op: str, result, tr) -> bool:
        part = self.images if op in dict(self.images.ops()) else self.text
        return part.check(op, result, tr)

    def candidates(self, tr) -> None:
        self.images.candidates(tr)


WORKLOADS = {w.name: w for w in (GeoJoin, ImageText)}
