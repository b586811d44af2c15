"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (which is a spatial engine); included because the
north-star workload is a 10^12-row image+caption corpus where dedup is a core
pipeline stage.  Exact dedup is one hash-aggregate (map-side partial combine).
Every near-duplicate operator is one candidate-pair pipeline, the dedup
family's counterpart of the spatial joins' shared cell join:

    keys -> cap -> self-pairs -> verify

- keys: (id, key) rows, plus any small per-id value the verify needs.  Band
  keys come from ``_band_keys`` (minhash band hashes, simhash 3-of-6 block
  combinations, phash strided bands); substring uses winnowed fingerprints,
  ngram its word n-gram hashes, embedding the hyperplane sign patterns of
  each LSH table, and pipeline.setjoin's PPJoin the prefix elements.
- cap: ``max_bucket_size`` drops the rows of a bucket holding more than the
  cap (an empty-document bucket, a boilerplate shingle) instead of going
  quadratic.  It trades recall for a hard bound on work; it is OFF by default.
- self-pairs: ``_self_pairs``, the one aliased self equi-join with
  ``id_a < id_b``; ONLY ids, keys and the carried values ride its shuffle.
- verify: ``_jaccard_verify`` (minhash exact, PPJoin), ``_hamming_pairs``
  (simhash, phash: the bit_count runs inside the join), the per-pair count
  (substring, ngram), or a value joined back by id with ``_join_back``
  (minhash estimate, embedding cosine).

Exactness contract, stated precisely: with the defaults, minhash
``verify="exact"`` is exact up to a QUANTIFIED banding-miss probability of
<= 1e-7 per qualifying pair (``min_band_matches="auto"`` — see
minhash_lsh_dup_pairs' docstring for the arithmetic).  Pass
``min_band_matches=1`` for the zero-probabilistic-miss contract (every pair
that collides in any band is verified), or use pipeline.setjoin's PPJoin for
a deterministically exact join with no banding step at all.

Intermediate relations that both sides of a self-join consume (band tables,
shingle-set tables) are ``persist()``ed — Catalyst does not CSE across join
sides, so without the pin the signature pipeline runs twice.  The pins are
deliberately NOT released when the output DataFrame is returned (the caller
has not materialized it yet); long-lived sessions issuing many dedup queries
should call :func:`release_cached` after each output is consumed.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

# DataFrames persist()ed by dedup operators in this session (see module
# docstring).  release_cached() unpins them once outputs are materialized.
_PINNED: list = []


def _pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_cached`.  A plan the
    cache manager already holds (the same query pinned by an earlier call)
    is returned as is: persisting it again only logs a warning and would
    grow the registry on every repeated call."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df
    df = df.persist()
    _PINNED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate this module pinned; returns the count.

    Call after the output DataFrames of dedup queries have been materialized
    (collected/written) — unpinning earlier silently recomputes the signature
    pipeline on both sides of the candidate self-join.
    """
    n = len(_PINNED)
    while _PINNED:
        _PINNED.pop().unpersist()
    return n


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (keep_id, dup_count) per distinct text.

    One shuffle on md5(text); map-side partial aggregation makes this scale
    linearly.  Keep rule: smallest id survives.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def _char_shingles(text: str, k: int) -> set:
    """Distinct character k-shingles, matching SQL:
    substr(text, i, k) for i in 1..greatest(1, length(text)-k+1)."""
    t = text or ""
    return {t[i : i + k] for i in range(max(1, len(t) - k + 1))}


def exact_shingle_jaccard(a: str, b: str, k: int) -> float:
    sa, sb = _char_shingles(a, k), _char_shingles(b, k)
    inter = len(sa & sb)
    return inter / float(len(sa) + len(sb) - inter)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, minhash array<long>): ``num_hashes`` min-hash values per document.

    Fully native plan — no Python anywhere:

        shingle hashes = xxhash64(substr(text, i, k)) for i in 1..len-k+1
        minhash[j]     = min over shingles of xxhash64(j, shingle_hash)

    expressed as transform+explode (one long per character position — the
    text itself never rides the explode) followed by a 64-column min
    aggregate on the id (one shuffle, map-side partial combine).  Duplicate
    shingles need no dedup: min over a multiset equals min over its support.
    xxhash64(seed_j, h) is an independent-per-seed 64-bit family, replacing
    the (a*x+b) mod p family the round-2 pandas-UDF path used (which cannot
    be written natively: the multiply overflows int64 under ANSI mode).
    Texts shorter than k are space-padded to length k, matching the exact
    verify's substr semantics.
    """
    rows = _shingle_hash_rows(df, text_col, shingle_k, id_col)
    sig = rows.groupBy(id_col).agg(*_minhash_aggs(num_hashes))
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{j}") for j in range(num_hashes)]).alias("minhash"),
    )


def _shingle_hash_rows(
    df: DataFrame, text_col: str, shingle_k: int, id_col: str
) -> DataFrame:
    """(id, __sh): one row per character position, __sh = xxhash64 of the
    k-char shingle at it.  Deliberately explode-then-substr (a plain
    whole-stage-codegen projection) rather than a higher-order transform()
    lambda: HOF lambdas are evaluated interpreted, measured 15x slower on
    this exact expression."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    t = F.when(F.length(t) < shingle_k, F.rpad(t, shingle_k, " ")).otherwise(t)
    return df.select(
        F.col(id_col),
        t.alias("__t"),
        F.explode(F.sequence(F.lit(1), F.length(t) - (shingle_k - 1))).alias("__i"),
    ).select(
        id_col,
        F.xxhash64(F.substr(F.col("__t"), F.col("__i"), F.lit(shingle_k))).alias("__sh"),
    )


# -- the shared candidate-pair pipeline (see the module docstring) -------------


def _minhash_aggs(num_hashes: int) -> list:
    """Per-document min of xxhash64(j, shingle hash) for j < num_hashes."""
    return [
        F.min(F.xxhash64(F.lit(j), F.col("__sh"))).alias(f"__m{j}")
        for j in range(num_hashes)
    ]


def _band_keys(df: DataFrame, id_col: str, keys: list, carry=()) -> DataFrame:
    """(id, *carry, band, key): one row per key expression, ``band`` its
    index.  A static array of structs, so the explode stays in codegen."""
    rows = df.select(
        F.col(id_col),
        *carry,
        F.explode(
            F.array(
                *[F.struct(F.lit(i).alias("band"), k.alias("key")) for i, k in enumerate(keys)]
            )
        ).alias("__bk"),
    )
    return rows.select(*rows.columns[:-1], "__bk.band", "__bk.key")


def _self_pairs(
    keyed: DataFrame, id_col: str, keys: list[str], carry=(), max_bucket_size=None
) -> DataFrame:
    """Every pair of ``keyed`` rows that share all ``keys``, as (id_a, id_b)
    with id_a < id_b; each ``carry`` column comes out as ``<c>_a``/``<c>_b``.

    ``max_bucket_size`` first drops the rows of over-full buckets: one extra
    count aggregate on the SAME keys as the join (Catalyst reuses the
    exchange), far cheaper at scale than a hot key's quadratic blowup.
    """
    if max_bucket_size is not None:
        sizes = keyed.groupBy(*keys).agg(F.count("*").alias("__bsz"))
        keyed = keyed.join(sizes, keys).where(F.col("__bsz") <= max_bucket_size).drop("__bsz")

    def side(s):
        return keyed.select(
            F.col(id_col).alias(f"id_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in carry], *keys
        )

    return side("a").join(side("b"), keys).where(F.col("id_a") < F.col("id_b"))


def _join_back(pairs: DataFrame, payload: DataFrame, id_col: str, col: str) -> DataFrame:
    """``pairs`` with ``payload``'s ``col`` of id_a as ``<col>_a`` and of id_b
    as ``<col>_b`` — the payload never rides the candidate shuffle."""
    for s in ("a", "b"):
        pairs = pairs.join(
            payload.select(F.col(id_col).alias(f"id_{s}"), F.col(col).alias(f"{col}_{s}")),
            f"id_{s}",
        )
    return pairs


def _jaccard_verify(
    cand: DataFrame, sets: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard >= threshold) over the candidate pairs, exact:
    native array_intersect of the per-doc distinct element arrays."""
    sa, sb = F.col(f"{set_col}_a"), F.col(f"{set_col}_b")
    inter = F.size(F.array_intersect(sa, sb))
    jac = inter / (F.size(sa) + F.size(sb) - inter).cast("double")
    return (
        _join_back(cand, sets, id_col, set_col)
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hamming_pairs(
    keyed: DataFrame, id_col: str, max_hamming: int, max_bucket_size: int | None
) -> DataFrame:
    """(id_a, id_b, hamming <= max_hamming) over pairs sharing a (band, key).

    The 64-bit ``__sig`` rides the keyed rows (8 bytes on ids-only rows), so
    the bit_count verify runs INSIDE the self-join: the flood of
    non-qualifying band matches dies map-side, before the pair dedup
    exchange, and no signature lookup join is needed."""
    ham = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return (
        _self_pairs(keyed, id_col, ["band", "key"], ["__sig"], max_bucket_size)
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# -- lane-packed count-vector overlap bound ------------------------------------
#
# For setjoin's PPJoin (ngram_jaccard_pairs measured it and left it out):
# hash each element into one of _CV_BUCKETS buckets and keep per-doc bucket
# counts a_i packed four 16-bit lanes to a long.  For any pair,
# |A ∩ B| <= sum_i min(a_i, b_i) (shared elements land in the same bucket on
# both sides), so ``sum-min >= minoverlap`` is a NECESSARY condition that can
# run map-side inside the candidate join, BEFORE any pair-keyed exchange.
#
# Admit-only.  Lane 3 holds count * 2^48, so a bucket of 32,768 elements would
# overflow the long (an ARITHMETIC_OVERFLOW error under ANSI mode), and lanes
# 0-2 spill into their neighbour at 65,536.  Each long is therefore a
# try_sum: on overflow it is NULL, not an error.  A set of at most 32,767
# elements can neither overflow nor spill, so callers must admit (not drop)
# pairs where either set is larger: NULL OR TRUE is TRUE, and the exact
# verify decides those pairs.
#
# The lane count is a JIT cliff, not a tunable: the sum-min lives in a join
# condition, whose generated bytecode HotSpot refuses to compile above ~8 kB
# (-XX:DontCompileHugeMethods).  Measured on the 50k-doc sf1 corpus: 8 longs/
# 32 buckets runs compiled (the flood filter costs ~2 s); 12 longs/48 buckets
# and 16/64 silently fall to interpreted bytecode at ~12 us/row — 40x slower
# end-to-end (165-192 s) despite 64 buckets being near-perfectly selective.
_CV_LONGS = 8
_CV_BUCKETS = 4 * _CV_LONGS
_LANE_MASK = 0xFFFF


def _cv_aggs(elem_col: str = "__sh"):
    """Aggregate expressions building the lane-packed bucket counts from
    exploded (doc, element) rows: long j accumulates buckets 4j..4j+3, one
    16-bit lane each.  ``elem_col`` must hold uniform 64-bit hashes."""
    bkt = F.pmod(F.col(elem_col), F.lit(_CV_BUCKETS)).cast("int")
    lane = bkt.bitwiseAND(F.lit(3))
    lane_one = (
        F.when(lane == 0, F.lit(1).cast("long"))
        .when(lane == 1, F.lit(1 << 16).cast("long"))
        .when(lane == 2, F.lit(1 << 32).cast("long"))
        .otherwise(F.lit(1 << 48).cast("long"))
    )
    return [
        F.try_sum(
            F.when(F.shiftright(bkt, 2) == j, lane_one).otherwise(F.lit(0).cast("long"))
        ).alias(f"__cv{j}")
        for j in range(_CV_LONGS)
    ]


def _cv_min_sum(suffix_a: str, suffix_b: str):
    """sum_i min(a_i, b_i) over the lane-packed bucket counts ``__cv<j>`` +
    suffix — an upper bound on |A ∩ B| (each term bounds the bucket's
    shared-element count).  Pure shift/mask/least scalar ops so the
    join-condition codegen stays under the JIT method limit (see the
    geometry note above)."""
    terms = []
    for j in range(_CV_LONGS):
        x, y = F.col(f"__cv{j}{suffix_a}"), F.col(f"__cv{j}{suffix_b}")
        for lane in range(4):
            terms.append(
                F.least(
                    F.shiftright(x, 16 * lane).bitwiseAND(F.lit(_LANE_MASK)),
                    F.shiftright(y, 16 * lane).bitwiseAND(F.lit(_LANE_MASK)),
                )
            )
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def minhash_lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 96,
    bands: int = 32,
    threshold: float = 0.7,
    shingle_k: int = 5,
    verify: str = "exact",
    max_bucket_size: int | None = None,
    min_band_matches: int | str = "auto",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold) via LSH banding.

    Plan: signatures -> explode to (band, band_hash) keys (ids only — the
    signatures never ride the candidate shuffle) -> self equi-join on
    the band bucket -> distinct pair -> verify.

    ``verify="exact"`` computes the exact character-``shingle_k``-shingle
    Jaccard per candidate pair (native array_intersect over per-doc shingle-
    hash sets), so the output is a deterministic subset relation the SQL
    oracle can replicate; the exact path shares ONE corpus pass between the
    signature and shingle-set aggregates (fused groupBy — the round-5 plan
    exploded the corpus twice).  ``verify="estimate"`` keeps the
    signature-agreement estimate (cheaper: no shingle-set join).

    Default banding is 32 bands x r=3 rows (96 hashes).  r is the flood
    knob: the candidate join's output on a corpus whose typical pairwise
    jaccard is j grows as bands * j^r * n_pairs, so r=3 cuts the
    shared-vocabulary flood by a factor of j versus r=2 (measured 6-9x
    fewer raw candidate rows at the 50k-doc gate corpus) while a pair AT
    the 0.8 threshold still collides in Binomial(32, 0.512) bands — miss
    probability (1-0.512)^32 ~ 1e-10 before the count cut.

    ``min_band_matches`` prunes candidate pairs matching fewer than that many
    of the ``bands`` band buckets before the per-pair verify.  Band matches
    of a pair at jaccard j are Binomial(bands, j^r); on repetitive corpora
    the j << threshold flood matches 1-2 bands while qualifying pairs
    concentrate near bands*threshold^r, so a low cut removes the flood at a
    quantified recall cost.  The default "auto" picks the largest cut whose
    worst-case miss probability for a pair AT the threshold is <= 1e-7
    (cut 3 of 32 at t=0.8, r=3: P[Binom(32, 0.512) < 3] = 6.5e-8); pass 1
    to disable pruning entirely when a zero-probabilistic-miss contract is
    required, at quadratic-verify cost on corpora of mutually-similar
    documents.
    """
    rows_per_band = num_hashes // bands
    if min_band_matches == "auto":
        from math import comb

        p_at_t = threshold**rows_per_band
        cut = 1
        for c in range(bands, 0, -1):
            miss = sum(
                comb(bands, x) * p_at_t**x * (1 - p_at_t) ** (bands - x)
                for x in range(c)
            )
            if miss <= 1e-7:
                cut = c
                break
        min_band_matches = cut
    if verify == "exact":
        # ONE corpus explode, pinned, feeding TWO separate aggregates: the
        # 96-column min aggregate (a clean codegen HashAggregate) and the
        # verify's collect_set (an ObjectHashAggregate).  Round 5 exploded
        # the corpus twice; fusing both into one ObjectHashAggregate was
        # also measured slower than this split (the same buffer-width
        # pathology seen on ppjoin's ordered build).
        rows = _pin(_shingle_hash_rows(df, text_col, shingle_k, id_col))
        sig = _pin(rows.groupBy(id_col).agg(*_minhash_aggs(num_hashes)))
        # per-doc DISTINCT shingle-hash sets for the verify: jaccard over
        # xxhash64 values equals jaccard over shingles up to a ~n^2/2^64
        # collision probability, which the oracle's string-side computation
        # would catch
        exact_sets = _pin(
            rows.groupBy(id_col).agg(F.collect_set("__sh").alias("__s"))
        )
        mh = lambda j: F.col(f"__m{j}")
    else:
        sig = minhash_signatures(df, text_col, num_hashes, shingle_k, id_col=id_col)
        arr = F.col("minhash")
        mh = lambda j: arr[j]
    # band key = xxhash64 of the band's r signature slots (static getItem
    # expressions, no HOF lambdas)
    banded = _band_keys(
        sig,
        id_col,
        [
            F.xxhash64(*[mh(b * rows_per_band + i) for i in range(rows_per_band)])
            for b in range(bands)
        ],
    )
    # pinned: in the estimate path the self-join would otherwise run the
    # whole signature pipeline on both sides.  n*bands rows of ~20 bytes,
    # orders of magnitude smaller than the corpus.
    banded = _pin(banded)
    # One all-native groupBy deduplicates the candidate pairs and counts how
    # many of the bands matched; the min_band_matches cut (see docstring)
    # runs on that count, so the prune costs nothing extra.
    cand = (
        _self_pairs(banded, id_col, ["band", "key"], max_bucket_size=max_bucket_size)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__nb"))
        .where(F.col("__nb") >= max(1, min_band_matches))
        .select("id_a", "id_b")
    )
    if verify == "exact":
        return _jaccard_verify(cand, exact_sets, id_col, "__s", threshold)
    # estimate mode: the fraction of agreeing signature slots
    agree = F.aggregate(
        F.zip_with("minhash_a", "minhash_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        _join_back(cand, sig, id_col, "minhash")
        .withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# -- SimHash (md5-token bits, fully native: no Python in the plan) -------------

def _md5_chunk(col, start: int):
    """First/second 32 bits of md5 hex as a non-negative long (conv base 16)."""
    return F.conv(F.substring(col, start, 8), 16, 10).cast("long")


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): 64-bit SimHash over distinct whitespace tokens.

    Bit b's vote is sum over tokens of (2*bit_b(md5(token)) - 1); the signature
    sets bit b iff the vote is positive.  md5 makes the signature reproducible
    in any engine (the SQL oracle recomputes it bit-for-bit); the plan is one
    explode + one 64-column hash aggregate — pure Catalyst, no UDF.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("__tok"),
    )
    md = F.md5(F.col("__tok"))
    hi, lo = _md5_chunk(md, 1), _md5_chunk(md, 9)
    aggs = []
    for b in range(64):
        chunk, sh = (lo, b) if b < 32 else (hi, b - 32)
        bit = F.shiftrightunsigned(chunk, sh).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"__v{b}"))
    votes = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"__v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), sim.alias("simhash"))


# 6 blocks covering 64 bits; any pair within hamming distance 3 differs in at
# most 3 blocks, so at least 3 blocks are clean and some 3-block combination
# matches exactly -> indexing all C(6,3)=20 combinations finds every pair with
# ~33-bit keys (vs 16-bit single-block keys, whose buckets go quadratic at
# billions of rows).
_SIM_BLOCKS = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]
_SIM_TRIPLES = list(combinations(range(6), 3))


def _sim_block(col, off: int, width: int):
    return F.shiftrightunsigned(col, off).bitwiseAND(
        F.lit((1 << width) - 1).cast("long")
    )


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming on SimHash.

    Pigeonhole blocking over 3-of-6 block combinations (exact for
    max_hamming <= 3); candidates carry only (id, combo, key) and the
    signature, verified by bit_count inside the self-join.
    """
    if max_hamming > 3:
        raise ValueError("3-of-6 block keys are exact only for max_hamming <= 3")
    # pinned: (id, long) rows of the 64-column vote aggregate.  It feeds only
    # the keyed rows, which are pinned too; whether this pin still pays is
    # unmeasured.
    sig = _pin(simhash64(df, id_col, text_col))
    blocks = [
        _sim_block(F.col("simhash"), off, w).alias(f"__b{i}")
        for i, (off, w) in enumerate(_SIM_BLOCKS)
    ]
    withb = sig.select(F.col(id_col), F.col("simhash"), *blocks)
    keys = [
        F.col(f"__b{i}")
        .bitwiseOR(F.shiftleft(F.col(f"__b{j}"), 11))
        .bitwiseOR(F.shiftleft(F.col(f"__b{k}"), 22))
        for i, j, k in _SIM_TRIPLES
    ]
    # persisted for the same reason as minhash's band rows: the self-join
    # consumes it twice and would recompute the signature aggregate both times
    keyed = _pin(_band_keys(withb, id_col, keys, [F.col("simhash").alias("__sig")]))
    return _hamming_pairs(keyed, id_col, max_hamming, max_bucket_size)


def phash_dup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 4,
    n_bands: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash Hamming distance.

    The image-modality sibling of simhash_dup_pairs: the input already
    carries a 64-bit perceptual hash (the images table's ``phash`` column,
    sources/images.phash64), so no signature pass is needed.  The 64 bits
    are split into ``n_bands`` nearly-equal bands (default max_hamming + 1,
    the pigeonhole minimum: <= max_hamming flipped bits cannot touch every
    band, so one band always matches and recall is EXACT — the same
    argument as simhash's 3-of-6 keys); candidates equi-join per band with
    the hash carried alongside (ids+hash-only shuffle, no second lookup
    join), then the exact ``bit_count(xor)`` verify.  ``max_bucket_size``
    caps degenerate bands (e.g. all-black thumbnails hashing to 0) exactly
    like the minhash/simhash paths.

    Band i's key gathers the STRIDED bit set {i, i + n_bands, ...} rather
    than a contiguous range.  Any partition of the 64 bits into n_bands
    disjoint groups preserves the pigeonhole recall proof, but real
    perceptual hashes concentrate their entropy unevenly across bit
    positions (DCT sign layouts; synthetic corpora whose ids only populate
    the low bits) — a contiguous high-bit band can then collapse to a
    handful of buckets and go quadratic (measured at the 52k-image gate
    corpus: the top contiguous band held ONE bucket = 1.35e9 candidate
    pairs, 104 s; strided bands cap the same corpus at ~100 rows/bucket =
    6.4e6 candidates, >200x less)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall for max_hamming="
            f"{max_hamming}; need n_bands >= max_hamming + 1 (pigeonhole)"
        )
    if n_bands > 64:
        raise ValueError("n_bands > 64")

    def _strided_key(i: int):
        # key = sum_j bit(i + j*n_bands) << j — pure codegen bit math
        key = None
        for j, b in enumerate(range(i, 64, n_bands)):
            term = F.shiftrightunsigned(F.col(phash_col), b).bitwiseAND(
                F.lit(1).cast("long")
            )
            term = F.shiftleft(term, j) if j else term
            key = term if key is None else key.bitwiseOR(term)
        return key

    keyed = _band_keys(
        df, id_col, [_strided_key(i) for i in range(n_bands)], [F.col(phash_col).alias("__sig")]
    )
    return _hamming_pairs(keyed, id_col, max_hamming, max_bucket_size)


def winnow_fingerprints(
    text: Column, k: int = 8, window: int = 13, hash_hex_chars: int = 15
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): hash every k-char gram, take the MIN hash of each
    sliding window of ``window`` consecutive gram hashes, distinct the
    selected values.

    GUARANTEE (the paper's): two documents sharing any exact substring of
    length >= k + window - 1 characters share at least one selected
    fingerprint — deterministic recall, unlike mod-p sampling.  The hash is
    the first ``hash_hex_chars`` hex chars of md5 (60 bits by default) so
    DuckDB replays the arithmetic byte-identically (same trick as
    pipeline/packing.py's bucket hash); at 60 bits cross-doc collisions
    are ~n^2/2^61 — quantified, not assumed away.

    All array expressions (transform/slice/array_min/array_distinct) are
    JVM-side; per-doc cost is O(chars * window) — at deployment scale pass
    a larger k/window (fingerprint density ~2/(window+1)).

    NOTE: the gram-hash array is wrapped in a single aggregate() pass-through
    so Catalyst cannot re-inline the O(chars) md5 transform into every one
    of the O(chars) window lambdas (CollapseProject/codegen would otherwise
    evaluate it O(chars^2 * window) times — measured 60x slower)."""
    n_grams = F.length(text) - k + 1
    # guard BEFORE sequence: Spark's sequence(1, 0) is the DESCENDING
    # [1, 0], not empty (unlike DuckDB generate_series) — without this a
    # sub-k text would fabricate two out-of-range gram hashes
    hashes = F.when(n_grams < 1, F.array().cast("array<long>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(text.substr(i, F.lit(k)).cast("binary")), 1, hash_hex_chars),
                16, 10,
            ).cast("long"),
        )
    )

    def _mins(h: Column) -> Column:
        n_windows = F.size(h) - window + 1
        return F.when(n_windows < 1, F.array().cast("array<long>")).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.lit(1), n_windows)),
                    lambda j: F.array_min(F.slice(h, j, window)),
                )
            )
        )

    # aggregate's accumulator materializes `hashes` exactly once per row;
    # the finish lambda then sees it as a bound variable, not an inlinable
    # expression tree
    return F.aggregate(
        F.array(F.lit(1)),
        hashes,
        lambda acc, _x: acc,
        lambda acc: _mins(acc),
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
    k: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact-substring near-dup pairs (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better' — the substring-overlap
    criterion, detected with winnowing instead of a distributed suffix
    array): documents sharing any exact substring of >= min_len chars
    share a winnowed fingerprint (deterministic recall, see
    winnow_fingerprints), candidates equi-join on the fingerprint and the
    output reports the distinct shared-fingerprint count per pair.

    Plan shape: ids+fingerprint-only shuffle (the text never moves),
    map-side distinct via array_distinct, cappable hot buckets — the same
    scale discipline as the minhash/simhash/phash paths."""
    window = min_len - k + 1
    if window < 1:
        raise ValueError(f"min_len {min_len} must be >= k ({k})")
    fp = df.select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k=k, window=window)).alias("__fp"),
    )
    return (
        _self_pairs(fp, id_col, ["__fp"], max_bucket_size=max_bucket_size)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_fp"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs sharing >=1 n-gram.

    Native: split once -> explode gram positions -> xxhash64 of each slice in
    a whole-stage-codegen projection (NOT a transform() lambda: HOF lambdas
    are evaluated interpreted and re-run the split per element — measured
    minutes vs seconds at sf0.1) -> per-doc distinct -> equi-join on the
    n-gram hash -> per-pair shared count -> |A∪B| = |A|+|B|-shared.

    ``max_df`` drops n-grams occurring in more than that many documents from
    the gram SETS themselves (both the join keys and the set sizes), so the
    stop-gram hot keys ("of the and") never hit the join; the SQL oracle can
    apply the identical document-frequency filter, keeping results exact.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    rows = df.select(F.col(id_col), toks.alias("__toks")).select(
        id_col,
        F.col("__toks"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("__toks") - (n - 1)))
        ).alias("__i"),
    )
    e0 = rows.select(
        id_col,
        F.xxhash64(F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), n))).alias(
            "gram"
        ),
    ).dropDuplicates([id_col, "gram"])
    # persisted: consumed by both sides of the pair self-join (plus the df
    # and size aggregates in the capped form) — (id, gram) longs only
    e0 = _pin(e0)
    if max_df is None:
        sizes = e0.groupBy(id_col).agg(F.count("*").alias("n_grams"))
        e = e0.join(sizes, id_col)
    else:
        dfreq = e0.groupBy("gram").agg(F.count("*").alias("__df"))
        e = e0.join(dfreq.where(F.col("__df") <= max_df).drop("__df"), "gram")
        sizes = e.groupBy(id_col).agg(F.count("*").alias("n_grams"))
        e = e.join(sizes, id_col)
    # size-ratio prune: jaccard >= t implies min(na,nb)/max(na,nb) >= t, so
    # the filter is implied by the final threshold and cannot change the
    # result set — it only keeps size-incompatible pairs out of the count agg.
    # (The setjoin count-vector bound was wired in here and MEASURED
    # net-neutral-to-negative at both sf0.1 and the single-file sf1 corpus
    # — 3.18 -> 3.34 s — because after the df cap the pair-keyed exchange is
    # no longer the wall while the extra per-doc count aggregates are pure
    # cost; reverted, the capped plan keeps the round-5 shape.)
    na, nb = F.col("n_grams_a"), F.col("n_grams_b")
    shared = (
        _self_pairs(e, id_col, ["gram"], ["n_grams"])
        .where((nb >= na * threshold) & (nb * threshold <= na))
        .groupBy("id_a", "id_b", "n_grams_a", "n_grams_b")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") / (na + nb - F.col("shared"))
    return shared.withColumn("jaccard", jac).where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# Per-python-worker cache of loaded GEMM blocks (workers are reused across
# tasks, so within one scan every task of block b shares one load).  Capped
# at 2 entries so concurrent block scans on one executor stay bounded by
# ~2 * max_broadcast_rows * d * 4 bytes.
_GEMM_BLOCK_CACHE: dict[str, tuple[np.ndarray, np.ndarray]] = {}


def _parquet_files_in(path: str) -> tuple[list[str], "object"]:
    """List *.parquet files under ``path`` via a URI-aware pyarrow filesystem.

    Unlike glob.glob (which silently matches nothing for hdfs://-s3:// URIs),
    this resolves the scheme with pyarrow.fs.FileSystem.from_uri, so cluster
    scratch dirs work; s3a:// (the Hadoop spelling) is mapped to s3://.
    Returns (files, filesystem); a missing directory returns ([], fs).
    """
    from pyarrow import fs as pafs

    uri = path.replace("s3a://", "s3://", 1) if path.startswith("s3a://") else path
    filesystem, fs_path = pafs.FileSystem.from_uri(uri)
    try:
        infos = filesystem.get_file_info(
            pafs.FileSelector(fs_path, allow_not_found=True)
        )
    except OSError:
        infos = []
    files = sorted(
        f.path for f in infos if f.is_file and f.base_name.endswith(".parquet")
    )
    return files, filesystem


def _load_gemm_block(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, normalized float32 matrix^T) for one parquet block directory.

    Runs on the EXECUTOR: each task reads its block straight from the
    (distributed) filesystem — the driver never materializes row data.
    Raises loudly when the block directory yields no files: the driver only
    dispatches scans for blocks it verified exist after the write, so an
    empty listing here means the executor cannot see the scratch filesystem
    (e.g. a driver-local tempdir on a multi-node cluster) — silently
    returning zero pairs would be corrupt output, not an empty block.
    """
    if path not in _GEMM_BLOCK_CACHE:
        import pyarrow.parquet as pq

        files, filesystem = _parquet_files_in(path)
        if not files:
            raise FileNotFoundError(
                f"GEMM block {path!r} has no parquet files on the executor. "
                "The scratch_dir must be a filesystem every executor can "
                "read (a DFS path on clusters); the driver verified this "
                "block existed after the write, so the path does not "
                "resolve from this worker."
            )
        tbl = pq.ParquetDataset(files, filesystem=filesystem).read()
        pdf = tbl.to_pandas()
        ids = pdf["__id"].to_numpy()
        M = np.stack(pdf["__vec"].to_numpy()).astype(np.float32)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        while len(_GEMM_BLOCK_CACHE) >= 2:
            _GEMM_BLOCK_CACHE.pop(next(iter(_GEMM_BLOCK_CACHE)))
        _GEMM_BLOCK_CACHE[path] = (ids, M.T.copy())
    return _GEMM_BLOCK_CACHE[path]


def embedding_cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_broadcast_rows: int = 2_000_000,
    scratch_dir: str | None = None,
) -> DataFrame:
    """EXACT cosine pair search via sharded blocked GEMM — no driver collect.

    Hyperplane LSH is only selective when the threshold is high (p per plane
    = 1 - angle/pi; at cosine 0.4 a plane agrees on ~63% of ALL pairs, so no
    banding scheme prunes meaningfully — candidate generation itself goes
    quadratic).  In that dense regime the honest plan is exact blocked
    matrix multiplication, sharded so nothing ever funnels through the driver:

      1. write (id, vec) hashed into B = ceil(n / max_broadcast_rows) row
         blocks as parquet under ``scratch_dir`` (one distributed write;
         on a cluster pass a DFS path — the default tempdir only works on
         shared-filesystem/local deployments),
      2. for each block, ONE mapInPandas over the full input loads that
         block executor-side (per-worker cached, see _load_gemm_block) and
         BLAS-multiplies each Arrow batch against it,
      3. union the B per-block scans.

    Each qualifying pair (a < b) is emitted exactly once: by the scan of the
    block containing b, from query row a (the ``ids_blk > qi`` guard).
    Executor memory is bounded by one block (max_broadcast_rows x d float32)
    regardless of n; the driver only ever runs count().  For n where even
    B scans of the full input are too slow, the banded LSH variant above is
    the sparse-regime path (thresholds >= ~0.9).
    """
    spark = df.sparkSession
    n = df.count()
    blocks = max(1, -(-n // max_broadcast_rows))

    if scratch_dir is None:
        import tempfile

        scratch_dir = tempfile.mkdtemp(prefix="iss_gemm_blocks_")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    )
    (
        base.withColumn("__blk", F.pmod(F.xxhash64("__id"), F.lit(blocks)))
        .write.mode("overwrite")
        .partitionBy("__blk")
        .parquet(scratch_dir)
    )

    def _scan_against(block_path):
        def _scan(batches):
            ids_blk, Mt = _load_gemm_block(block_path)
            for pdf in batches:
                if not len(pdf) or not len(ids_blk):
                    continue
                q = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
                q /= np.linalg.norm(q, axis=1, keepdims=True)
                sims = q @ Mt  # BLAS
                qi = pdf[id_col].to_numpy()
                out_a, out_b, out_c = [], [], []
                for r in range(len(q)):
                    hits = np.nonzero((sims[r] >= threshold) & (ids_blk > qi[r]))[0]
                    out_a.extend([qi[r]] * len(hits))
                    out_b.extend(ids_blk[hits])
                    out_c.extend(sims[r, hits].astype(np.float64))
                yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

        return _scan

    # driver-side existence check: hash blocks CAN be legitimately empty at
    # small n, but a scratch_dir the driver itself cannot list (or with zero
    # blocks after a non-empty write) means the write went somewhere the scan
    # won't find — fail here, not with silent zero pairs (round-3 ADVICE)
    try:
        block_dirs = [
            p
            for p in (f"{scratch_dir}/__blk={b}" for b in range(blocks))
            if _parquet_files_in(p)[0]
        ]
    except Exception as exc:  # driver lacks credentials/scheme for the path
        # On deployments where only executors hold filesystem credentials
        # (common for s3://), the driver-side listing itself errors for a
        # perfectly usable scratch path.  The authoritative gate stays the
        # loud executor-side check in _load_gemm_block; degrade to a warning.
        import warnings

        warnings.warn(
            f"driver cannot list scratch_dir={scratch_dir!r} ({exc}); "
            "skipping the driver-side GEMM block existence check — the "
            "executor-side load remains the authoritative gate",
            RuntimeWarning,
            stacklevel=2,
        )
        # dispatch every nominal block; the executor-side loud check in
        # _load_gemm_block catches an unreadable scratch filesystem
        block_dirs = [f"{scratch_dir}/__blk={b}" for b in range(blocks)]
    else:
        if n > 0 and not block_dirs:
            raise FileNotFoundError(
                f"no GEMM blocks visible under scratch_dir={scratch_dir!r} "
                f"after writing {n} rows — the driver cannot list the path "
                "it just wrote; pass a scratch_dir on a filesystem both the "
                "driver and every executor can read"
            )

    id_type = dict(df.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    inp = df.select(F.col(id_col), F.col(vec_col))
    scans = [
        inp.mapInPandas(_scan_against(p), schema=schema) for p in block_dirs
    ]
    if not scans:  # n == 0: no pairs by definition
        # zero-row Arrow table; Spark casts its null-typed columns to ``schema``
        empty = pa.table({c: pa.nulls(0) for c in ("id_a", "id_b", "cosine")})
        return spark.createDataFrame(empty, schema=schema)
    out = scans[0]
    for s in scans[1:]:
        out = out.unionAll(s)
    return out


def embedding_cosine_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_tables: int = 64,
    planes_per_table: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity: banded multi-table LSH +
    exact cosine verify.

    Each of ``num_tables`` tables buckets a vector by the sign pattern of
    ``planes_per_table`` seeded random hyperplanes; a pair is a candidate if
    it collides in ANY table (standard banding: recall
    1-(1-p^m)^L with p = 1 - angle/pi).  Candidates carry only
    (id, table, bucket); vectors are joined back by id and verified with an
    exact native cosine, so the emitted pair set equals the all-pairs result
    whenever no qualifying pair is missed — with m=2, L=64 a pair at
    cosine 0.4 is missed with probability ~6e-14.  At billion-row scale raise
    ``planes_per_table`` (bigger buckets budget) and set ``max_bucket_size``.
    """
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = first.d if first else 0
    rng = np.random.default_rng(7)
    planes = rng.standard_normal((num_tables, planes_per_table, dim))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        # (rows, tables, planes) sign bits -> per-table integer keys
        signs = np.einsum("rd,tpd->rtp", M, planes) > 0
        keys = np.zeros((len(M), planes.shape[0]), dtype=np.int64)
        for p in range(planes.shape[1]):
            keys |= signs[:, :, p].astype(np.int64) << p
        return pd.Series(list(keys))

    ids = df.select(F.col(id_col), F.col(vec_col))
    keyed = ids.select(
        id_col, F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket")
    )
    # persisted: consumed twice by the self-join (avoids rerunning the
    # pandas-UDF bucketing pass on both sides)
    keyed = _pin(keyed)
    cand = (
        _self_pairs(keyed, id_col, ["table", "bucket"], max_bucket_size=max_bucket_size)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    withv = _join_back(cand, ids, id_col, vec_col)
    dot = F.aggregate(
        F.zip_with(f"{vec_col}_a", f"{vec_col}_b", lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: (x * x).cast("double")), F.lit(0.0), lambda acc, v: acc + v
        )
    )
    cos = dot / (norm(F.col(f"{vec_col}_a")) * norm(F.col(f"{vec_col}_b")))
    return (
        withv.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
