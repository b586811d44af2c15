"""The north rule's deployment shape: `spark-submit --py-files <zip>`.

This runs a REAL spark-submit subprocess with the engine shipped only as
the zip built by tools/make_pyfiles_zip.py, from a working directory where
the repo package is NOT on the path — so a passing run proves the archive
is self-contained (imports resolve from the zip on driver and executors,
the same mechanism a multi-executor cluster uses).
"""

import os
import subprocess
import sys
import tempfile




_JOB = """
import sys
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .appName("pyfiles-smoke").getOrCreate())

import incubator_sedona_spark
assert "incubator_sedona_spark.zip" in incubator_sedona_spark.__file__, (
    "package must import from the shipped zip, got %s" % incubator_sedona_spark.__file__)

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.operators.joins import spatial_join
from incubator_sedona_spark.functions.st import st_polygon_from_envelope

zones = spark.range(4).select(
    F.col("id").alias("zone_id"),
    st_polygon_from_envelope(
        (F.col("id") % 2) * 5.0, (F.col("id") / 2).cast("int") * 5.0,
        (F.col("id") % 2) * 5.0 + 5.0, (F.col("id") / 2).cast("int") * 5.0 + 5.0,
    ).alias("wkb"),
)
pts = spark.range(200).select(
    F.col("id").alias("pid"),
    (F.pmod(F.col("id") * 37, F.lit(100)) / 10.0).alias("x"),
    (F.pmod(F.col("id") * 73, F.lit(100)) / 10.0).alias("y"),
)
j = spatial_join(zones, pts, "contains", grid=Grid(0.0, 0.0, 10.01, 10.01, 2),
                 right_point_cols=("x", "y"))
n = j.count()
assert n > 0, "empty join"

# the worker shim installs from the shipped zip too
from pyspark.sql.functions import udf

@udf("boolean")
def shim_installed(_):
    from incubator_sedona_spark import _worker
    return _worker._installed

assert all(r[0] for r in spark.range(8).select(shim_installed("id")).collect())
print("PYFILES_OK", n)
spark.stop()
"""


def test_spark_submit_with_pyfiles_zip(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from make_pyfiles_zip import build
    finally:
        sys.path.pop(0)
    zip_path = build(str(tmp_path / "incubator_sedona_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    spark_home = os.environ.get("SPARK_HOME")
    submit = (
        os.path.join(spark_home, "bin", "spark-submit") if spark_home else "spark-submit"
    )
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # run from an empty cwd: the repo package must NOT be importable except
    # through --py-files
    with tempfile.TemporaryDirectory() as cwd:
        res = subprocess.run(
            [submit, "--py-files", zip_path, str(job)],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
        )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "PYFILES_OK" in res.stdout, (res.stdout[-1000:], res.stderr[-2000:])
