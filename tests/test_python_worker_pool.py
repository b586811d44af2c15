"""A session keeps one Python worker pool.

Spark starts one ``pyspark.daemon`` per worker environment.  The SQL Arrow
runners (pandas UDFs, ``mapInPandas``) share one; a relation built from a
Python list (``createDataFrame(list, ddl)``) or a ``DataFrame.foreachPartition``
sink runs on the RDD runner, whose environment differs, so it forks a second
daemon plus one worker per task slot, and those tasks never install the
engine's ``_worker`` shim.  Every driver-built table and executor-side sink in
the package goes through Arrow, so the engine alone never forks that pool.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = r"""
import os
import struct
import sys

import pyarrow as pa
from pyspark.sql import functions as F

from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.operators import joins, knn, raster as R
from incubator_sedona_spark.pipeline import components, dedup
from incubator_sedona_spark.session import get_spark
from incubator_sedona_spark.sources import datagen, geoparquet, iceberg, raster_codecs, shapefile
from process_tree import processes

SLOTS = 2
out = sys.argv[1]
spark = get_spark(master=f"local[{SLOTS}]", shuffle_partitions=SLOTS)


def longs(*cols):
    return pa.table({k: pa.array(v, pa.int64()) for k, v in cols})


# the job's own inputs reach the JVM as Arrow tables or native plans
images = pa.Table.from_pandas(datagen.gen_images_pdf(4), preserve_index=False)
iceberg.write_image_table(spark.createDataFrame(images), os.path.join(out, "images"),
                          snapshot_log=True)

docs = spark.createDataFrame(longs(("doc_id", range(6))))
edges = spark.createDataFrame(longs(("id_a", [0, 1, 3]), ("id_b", [1, 2, 4])))
assert components.dedup_representatives(docs, edges).count() == 3

boxes = spark.createDataFrame(pa.table({
    "id": pa.array(range(3), pa.int64()),
    "wkb": pa.array([W.dumps(W.box(i, i, i + 1, i + 1)) for i in range(3)], pa.binary()),
}))
geoparquet.write_geoparquet(boxes, os.path.join(out, "geo"))

os.makedirs(os.path.join(out, "shp"))
record = struct.pack(">ii", 1, 10) + struct.pack("<idd", 1, 1.0, 2.0)
header = (struct.pack(">i", 9994) + b"\0" * 20 + struct.pack(">i", (100 + len(record)) // 2)
          + struct.pack("<ii", 1000, 1) + struct.pack("<8d", 0, 0, 100, 100, 0, 0, 0, 0))
with open(os.path.join(out, "shp", "pt.shp"), "wb") as f:
    f.write(header + record)
assert shapefile.read_shapefile(spark, os.path.join(out, "shp")).count() == 1

rasters = spark.range(2).select(
    F.format_string("r%d.tif", "id").alias("path"),
    R.rs_make_empty_raster(1, 4, 3, 0.0, 0.0, pixel_size=1.0).alias("raster"))
assert raster_codecs.write_geotiff_table(rasters, os.path.join(out, "tif")) == 2

vecs = spark.range(0).select(F.col("id").alias("vec_id"),
                             F.array(F.lit(1.0)).alias("embedding"))
assert dedup.embedding_cosine_pairs_exact(
    vecs, scratch_dir=os.path.join(out, "gemm")).count() == 0

# broadcast spatial joins whose refine runs the kernel: one index probe per
# task (before, the stream stage held a bbox runner and a refine runner)
def polys(n, off, step):
    return spark.createDataFrame(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "wkb": pa.array([W.dumps(W.box(i * step + off, off, i * step + off + 3, off + 3))
                         for i in range(n)], pa.binary()),
    }))


assert joins.spatial_join(polys(40, 0, 2), polys(40, 1, 2), "intersects",
                          broadcast="right").count() == 156
ells = spark.createDataFrame(pa.table({
    "zid": pa.array(range(4), pa.int64()),
    "wkb": pa.array([W.dumps(W.polygon([(x, 0), (x + 8, 0), (x + 8, 3), (x + 3, 3), (x + 3, 8),
                                        (x, 8)])) for x in range(0, 40, 10)], pa.binary()),
}))
pts = spark.createDataFrame(pa.table({"pid": pa.array(range(400), pa.int64()),
                                      "x": pa.array([i % 40 + 0.5 for i in range(400)]),
                                      "y": pa.array([i // 40 + 0.5 for i in range(400)])}))
assert joins.spatial_join(ells, pts, "contains", right_point_cols=("x", "y"),
                          left_rect=False, broadcast="left").count() == 4 * 8 * 3 + 4 * 3 * 5

# a distance join of WKB polygons over a broadcast right side: one probe per
# task (the cell join's stream stage held a bbox runner and a distance runner)
assert joins.distance_join(polys(40, 0, 2), polys(40, 1, 2), 2.0,
                           broadcast="right").count() == 231

# a kNN join over a broadcast right side: one probe per task, no ring rounds
probes = spark.createDataFrame(pa.table({"lid": pa.array(range(50), pa.int64()),
                                         "x": pa.array([i * 0.8 for i in range(50)]),
                                         "y": pa.array([i * 0.2 for i in range(50)])}))
assert knn.knn_join(probes, pts, 3, None, left_id="lid", tiebreak="pid").count() == 150

rows = processes()
daemons = [r for r in rows if r["role"] == "daemon"]
workers = [r for r in rows if r["role"].startswith("worker")]
print("DAEMONS", len(daemons), "WORKERS", len(workers), "SLOTS", SLOTS)
spark.stop()
"""


def test_one_python_worker_pool(tmp_path):
    """Snapshot append, union-find dedup, GeoParquet write, shapefile read,
    GeoTIFF sink, the zero-row exact cosine result, two broadcast spatial
    joins with a kernel refine, a broadcast WKB distance join and a
    broadcast kNN join, in a fresh session:
    the JVM forks exactly
    one ``pyspark.daemon``, with no more live workers than task slots.
    Before these paths used Arrow, the first append forked a second daemon;
    before the broadcast join was one index probe, its stream stage held two
    Python runners per task."""
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    work = tmp_path / "out"
    work.mkdir()
    path = [REPO, os.path.join(REPO, "tools"), os.environ.get("PYTHONPATH")]
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=os.pathsep.join(filter(None, path)))
    res = subprocess.run([sys.executable, str(job), str(work)], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    line = next(s for s in res.stdout.splitlines() if s.startswith("DAEMONS"))
    _, daemons, _, workers, _, slots = line.split()
    assert int(daemons) == 1, line
    assert 1 <= int(workers) <= int(slots), line
