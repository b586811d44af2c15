"""The dedup family's shared candidate-pair pipeline: plan shape per operator,
the count-vector bound's behaviour at its lane limits, and the size of the
largest method Spark generates for it."""

import os
import random
import re
import string
import subprocess
import sys

import pyarrow as pa
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
import sys

from incubator_sedona_spark.pipeline import dedup as D
from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join
from incubator_sedona_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.conf.set("spark.sql.adaptive.enabled", sys.argv[1])
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
rng = random.Random(3)
words = ["w%d" % i for i in range(40)]
base = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(20)]
docs = spark.createDataFrame(
    [(i, base[i % 20] + (" x%d" % i if i >= 20 else "")) for i in range(40)],
    "doc_id long, text string")
pairs = exact_jaccard_self_join(docs, threshold=0.6)
# list-built docs carry no statistics, so PPJoin keeps its Catalyst plan
assert "MapInArrow" not in pairs._jdf.queryExecution().executedPlan().toString()
assert pairs.count() == 20
assert D.minhash_lsh_dup_pairs(docs, threshold=0.6, verify="exact").count() == 20
print("MAX_METHOD_BYTES", metrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getSnapshot().getMax())
spark.stop()
"""

def test_generated_methods_stay_under_the_jit_limit(tmp_path):
    """The largest method Spark generates for PPJoin's Catalyst plan and
    exact minhash stays under HotSpot's 8,000-byte huge-method limit; past
    it the stage runs interpreted, ~40x slower, with the same rows.  A fresh
    session per AQE setting, so the histogram holds only these two
    operators' code.  With these 40 documents on ``local[2]`` and AQE off,
    PPJoin's prefix-join stage (the broadcast prefix join with the
    count-vector bound in its condition, through the verify joins) peaked
    at 7,974 bytes while the counts were nullable and 6,067 bytes with NOT
    NULL counts; minhash's band-key stage (32 ``xxhash64`` band keys over
    the pinned 96-column signature table) is 7,380 bytes.  Widening either,
    for example ``_CV_LONGS = 12``, fails this test."""
    job = tmp_path / "job.py"
    job.write_text(_JIT_JOB)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    for aqe in ("true", "false"):
        res = subprocess.run([sys.executable, str(job), aqe], cwd=str(tmp_path), env=env,
                             capture_output=True, text=True, timeout=600)
        assert res.returncode == 0, res.stderr[-3000:]
        line = next(s for s in res.stdout.splitlines() if s.startswith("MAX_METHOD_BYTES"))
        # HotSpot does not JIT-compile a method of more than 8,000 bytecode
        # bytes (DontCompileHugeMethods is on by default)
        assert 0 < int(line.split()[1]) < 8000, (aqe, line)


def _ppjoin_docs(rows, id_type=pa.int64()):
    return pa.table({"doc_id": pa.array([r[0] for r in rows], id_type),
                     "text": pa.array([r[1] for r in rows], pa.string())})


def _flood():
    return [(i, "the same boilerplate line %d" % (i % 3)) for i in range(60)]


def _long_pair():
    rng = random.Random(5)
    base = "".join(rng.choice(string.ascii_lowercase) for _ in range(36000))
    edited = "".join("#" if i % 3600 == 0 else c for i, c in enumerate(base))
    return [(0, base), (1, edited), (2, "an unrelated short document")]


_PPJOIN_CASES = {
    # (docs, threshold, shingle_k, prefix bound: None keeps the module's)
    "empty": (_ppjoin_docs([]), 0.7, 5, None),
    "null_empty_short": (_ppjoin_docs(
        [(0, None), (1, ""), (2, None), (3, ""), (4, "abc"), (5, "abc"), (6, "abcd"),
         (7, "a short one"), (8, "a short one!"), (9, "x")]), 0.5, 5, None),
    "duplicates": (_ppjoin_docs(
        [(0, "one two three four five"), (1, "one two three four five"),
         (2, "one two three four five"), (3, "one two three four six"),
         (3, "seven eight nine"), (4, "seven eight nine"), (5, "one two three four five")]),
        0.6, 3, None),
    "id_limits": (_ppjoin_docs(
        [(-(1 << 63), "near duplicate text number one"), ((1 << 53) + 1, "near duplicate text number one!"),
         ((1 << 63) - 1, "near duplicate text number one?"), (None, "near duplicate text number one"),
         (7, None), (None, None), (8, ""), (9, "something else entirely")]), 0.5, 5, None),
    "int32_ids": (_ppjoin_docs([(i, t) for i, t in _texts(40)], pa.int32()), 0.6, 5, None),
    "long_sets": (_ppjoin_docs(_long_pair()), 0.9, 5, None),
    # |{a,b,c}| / |{a,b,c,d,e}| is 3/5: a Jaccard exactly at the threshold
    "exact_threshold": (_ppjoin_docs(
        [(0, "abcd"), (1, "abce"), (2, "abcf"), (3, "xyz"), (4, "xyzw")]), 0.6, 1, None),
    "flood_over_bound": (_ppjoin_docs(_flood()), 0.8, 5, 100),
}


@pytest.mark.parametrize("case", list(_PPJOIN_CASES))
def test_arrow_ppjoin_matches_catalyst(spark, monkeypatch, case):
    """The broadcast PPJoin (Arrow-built docs) against the Catalyst plan
    (auto-broadcast off): sorted rows with exact ``jaccard`` doubles, names
    and dtypes, and the plan each ran.  ``flood_over_bound`` lowers the
    prefix-join bound below its corpus's prefix pairs (60 documents in 3
    groups of identical texts), so both runs take the Catalyst plan."""
    from incubator_sedona_spark.pipeline import setjoin

    table, threshold, k, bound = _PPJOIN_CASES[case]
    if bound is not None:
        monkeypatch.setattr(setjoin, "_PROBE_PREFIX_PAIRS", bound)
    docs = spark.createDataFrame(table)

    def run():
        out = exact_jaccard_self_join(docs, threshold=threshold, shingle_k=k)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in out.collect()), out.dtypes, "MapInArrow" in plan

    try:
        probe = run()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            catalyst = run()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        D.release_cached()
    assert probe[2] is (bound is None)
    assert catalyst[2] is False
    assert probe[0] == catalyst[0]
    assert probe[1] == catalyst[1]
    if case == "exact_threshold":
        assert (0, 1, 0.6) in probe[0]
