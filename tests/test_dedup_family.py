"""The dedup family's shared candidate-pair pipeline: plan shape per operator,
the count-vector bound's behaviour at its lane limits, and the size of the
largest method Spark generates for it."""

import os
import random
import re
import string
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.pipeline import dedup as D
from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _texts(n=24, seed=3):
    rng = random.Random(seed)
    words = ["w%d" % i for i in range(40)]
    base = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(n // 2)]
    return [(i, base[i % len(base)] + (" x%d" % i if i >= len(base) else "")) for i in range(n)]


def _dedup_call(spark, op):
    docs = spark.createDataFrame(_texts(), "doc_id long, text string")
    if op == "minhash_exact":
        return D.minhash_lsh_dup_pairs(docs, threshold=0.6)
    if op == "minhash_exact_capped":
        return D.minhash_lsh_dup_pairs(docs, threshold=0.6, max_bucket_size=5)
    if op == "minhash_estimate":
        return D.minhash_lsh_dup_pairs(docs, threshold=0.6, verify="estimate")
    if op == "ppjoin":
        return exact_jaccard_self_join(docs, threshold=0.6)
    if op == "simhash":
        return D.simhash_dup_pairs(docs)
    if op == "phash":
        ph = spark.createDataFrame([(i, i * 2654435761 % (1 << 60)) for i in range(24)],
                                   "image_id long, phash long")
        return D.phash_dup_pairs(ph)
    if op == "substring":
        return D.substring_dup_pairs(docs, min_len=20, k=8)
    if op == "ngram":
        return D.ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    if op == "ngram_max_df":
        return D.ngram_jaccard_pairs(docs, n=2, threshold=0.5, max_df=6)
    vecs = spark.createDataFrame([(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(24)],
                                 "vec_id long, embedding array<double>")
    return D.embedding_cosine_dup_pairs(vecs, threshold=0.9, num_tables=4)


@pytest.mark.parametrize(
    "op, exchanges, joins",
    [
        ("minhash_exact", 8, 3),
        ("minhash_exact_capped", 11, 5),
        ("minhash_estimate", 8, 3),
        ("ppjoin", 20, 6),
        ("simhash", 4, 1),
        ("phash", 3, 1),
        ("substring", 3, 1),
        ("ngram", 7, 2),
        ("ngram_max_df", 11, 4),
        ("embedding", 7, 3),
    ],
)
def test_dedup_plan_shape(spark, op, exchanges, joins):
    """Pins how many exchanges and join nodes each dedup-family operator
    plans (AQE and auto-broadcast off, so the counts do not depend on run-time
    sizes), so a refactor cannot silently add a shuffle or a join."""
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        plan = _dedup_call(spark, op)._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    nodes = [re.match(r"[\s:|+-]*(?:\*\(\d+\) )?(\w+)", ln).group(1)
             for ln in plan.splitlines() if ln.strip()]
    assert sum(n.endswith("Exchange") for n in nodes) == exchanges, plan
    assert sum(n.endswith("Join") for n in nodes) == joins, plan


def test_cv_lane_overflow_is_null_not_an_error(spark):
    """A bucket of 32,768 elements overflows lane 3 (count * 2^48 = 2^63).
    Under ANSI mode that raised ARITHMETIC_OVERFLOW; the packed long is now
    NULL, and one element fewer still packs exactly."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        # element 32*i + 31 lands in bucket 31: lane 3 of the last long
        elems = lambda doc, n: spark.range(n).select(
            F.lit(doc).alias("doc"), (F.col("id") * D._CV_BUCKETS + 31).alias("e")
        )
        got = {
            r["doc"]: r
            for r in elems(0, 32767).unionAll(elems(1, 32768))
            .groupBy("doc").agg(*D._cv_aggs("e")).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    last = f"__cv{D._CV_LONGS - 1}"
    assert got[0][last] == 32767 << 48
    assert got[1][last] is None
    for doc in (0, 1):
        assert all(got[doc][f"__cv{j}"] == 0 for j in range(D._CV_LONGS - 1))


def test_exact_jaccard_keeps_pairs_past_the_lane_guard(spark):
    """Sets larger than 32,767 elements skip the count-vector bound and are
    decided by the exact verify: a near-duplicate pair of ~36k-shingle
    documents still comes out with its exact Jaccard."""
    rng = random.Random(5)
    base = "".join(rng.choice(string.ascii_lowercase) for _ in range(36000))
    edited = list(base)
    for i in range(0, len(edited), 3600):
        edited[i] = "#"
    edited = "".join(edited)
    assert len(D._char_shingles(base, 5)) > 32767
    df = spark.createDataFrame(
        [(0, base), (1, edited), (2, "an unrelated short document")], "doc_id long, text string"
    )
    got = exact_jaccard_self_join(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]
    assert got[0].jaccard == pytest.approx(D.exact_shingle_jaccard(base, edited, 5), abs=1e-9)


_JIT_JOB = r"""
import random

from incubator_sedona_spark.pipeline import dedup as D
from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join
from incubator_sedona_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
rng = random.Random(3)
words = ["w%d" % i for i in range(40)]
base = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(20)]
docs = spark.createDataFrame(
    [(i, base[i % 20] + (" x%d" % i if i >= 20 else "")) for i in range(40)],
    "doc_id long, text string")
assert exact_jaccard_self_join(docs, threshold=0.6).count() == 20
assert D.minhash_lsh_dup_pairs(docs, threshold=0.6, verify="exact").count() == 20
print("MAX_METHOD_BYTES", metrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getSnapshot().getMax())
spark.stop()
"""

def test_generated_methods_stay_under_the_jit_limit(tmp_path):
    """The largest method Spark generates for PPJoin and exact minhash stays
    under HotSpot's 8,000-byte huge-method limit; past it the stage runs
    interpreted, ~40x slower, with the same rows.  A fresh session, so the
    histogram holds only these two operators' code.  Headroom is thin: with
    these 40 documents on ``local[2]`` the largest method was 7,724 bytes
    for PPJoin, in its verify stage (the broadcast join of candidate pairs
    with the right-hand sets and the ``array_intersect`` Jaccard), and 7,380
    bytes for minhash, in its band-key stage (32 ``xxhash64`` band keys over
    the pinned 96-column signature table).  Widening either, for example
    ``_CV_LONGS = 12``, fails this test."""
    job = tmp_path / "job.py"
    job.write_text(_JIT_JOB)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    res = subprocess.run([sys.executable, str(job)], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    size = int(next(s for s in res.stdout.splitlines() if s.startswith("MAX_METHOD_BYTES")).split()[1])
    # HotSpot does not JIT-compile a method of more than 8,000 bytecode
    # bytes (DontCompileHugeMethods is on by default)
    assert 0 < size < 8000, size
