"""Session sizing (session.py): the generated-code cache holds an image+caption
pass, an undersized pre-existing session is reported once, and the default
driver heap follows the host's memory."""

import os
import subprocess
import sys

from incubator_sedona_spark import session
from incubator_sedona_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
try:
    from codegen_probe import codegen_counters, image_text_chain
finally:
    sys.path.pop(0)


def test_second_image_text_pass_compiles_no_class(spark, tmp_path):
    """The chain compiles ~135 classes.  With Spark's default 100-entry cache
    the second run recompiled 126 of them; sized to the working set, none.

    AQE is off for both runs: with it, ``exact_jaccard_self_join``'s
    shingle/document-frequency join flips between two broadcast builds
    depending on which shuffle stage finishes first, and a pass that meets
    the other plan for the first time compiles its 5-7 classes."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = image_text_chain(spark, str(tmp_path))
        before = codegen_counters(spark)["compiles"]
        second = image_text_chain(spark, str(tmp_path))
        compiles = codegen_counters(spark)["compiles"] - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert first == second
    assert min(first.values()) > 0, first
    assert compiles == 0


def test_get_spark_keeps_the_shared_session_quiet(spark, recwarn):
    assert get_spark(app_name="iss-tests", master="local[4]", shuffle_partitions=4) is spark
    cache = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert cache == session.CODEGEN_CACHE_ENTRIES
    assert not [w for w in recwarn if "codegen.cache" in str(w.message)]


_SMALL_CACHE_JOB = """
import warnings
from pyspark.sql import SparkSession
from incubator_sedona_spark.session import get_spark

SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false") \\
    .config("spark.sql.codegen.cache.maxEntries", "100").getOrCreate()
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    a = get_spark(master="local[1]", shuffle_partitions=1)
    b = get_spark(master="local[1]", shuffle_partitions=1)
assert a is b
print("WARNINGS", sum("codegen.cache.maxEntries" in str(w.message) for w in caught))
a.stop()
"""


def test_get_spark_warns_once_for_an_existing_small_cache_session(tmp_path):
    job = tmp_path / "job.py"
    job.write_text(_SMALL_CACHE_JOB)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    res = subprocess.run([sys.executable, str(job)], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert "WARNINGS 1" in res.stdout, (res.stdout[-1000:], res.stderr[-2000:])


def _host(monkeypatch, gib):
    pages = {"SC_PHYS_PAGES": int(gib * (1 << 18)), "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_default_driver_memory_is_half_the_host(monkeypatch):
    _host(monkeypatch, 15.69)
    assert session.default_driver_memory() == "8033m"
    _host(monkeypatch, 16)
    assert session.default_driver_memory() == "8192m"


def test_default_driver_memory_is_capped_and_floored(monkeypatch):
    _host(monkeypatch, 256)
    assert session.default_driver_memory() == "24576m"
    _host(monkeypatch, 0.5)
    assert session.default_driver_memory() == "512m"
