"""EXACT set-similarity self-join via prefix filtering (PPJoin family).

Chaudhuri et al. 2006 / Xiao et al. 2008 (public algorithms): for Jaccard(A, B)
>= t, A and B must share at least one element among their PREFIXES — the
first ``|S| - ceil(t * |S|) + 1`` elements of each set under a single global
element order.  Ordering the universe by ASCENDING document frequency puts the
RAREST elements in the prefix, so the prefix equi-join generates few
candidates even on corpora where every pair shares common elements — the
regime where LSH banding floods (see pipeline.dedup.minhash_lsh_dup_pairs).

Unlike LSH this is deterministically EXACT: the prefix condition is necessary
(no qualifying pair can be missed), and every candidate is verified exactly.
Both plans start from one pinned per-doc shingle-set aggregate and apply the
same rules (prefix length, size-ratio prune, positional bound, Jaccard as
the same double expression), so they return the same rows:

- the broadcast probe (:func:`_ppjoin_probe`, the BroadcastIndexJoinExec
  shape of ``operators.joins._probe_join``): when the set table is small
  enough to broadcast, the driver collects it once, builds the PPJoin index
  in numpy (the global element order, each document's rank-sorted set, the
  prefix postings) and ONE ``mapInArrow`` generates and verifies each
  task's candidate pairs — one stage, no exchange.  A small corpus costs
  the Catalyst plan a dozen jobs of orchestration and JIT for a few
  thousand candidate rows;
- the Catalyst plan (:func:`_prefix_join`), for every other corpus:
  frequency-sorted set + lane-packed bucket counts -> prefix explode ->
  equi-join with a map-side count-vector overlap bound -> positional filter
  -> verify join.

Scale notes: only (id, element) prefix pairs ride the candidate shuffle; the
size-ratio prune (|A| >= t*|B|) is applied inside the join condition (it is
implied by the threshold, so it cannot change the result); per-element
candidate volume is bounded by the df of PREFIX elements, which the
rare-first order minimizes; and the count-vector bound (below) discards the
bulk of the flood INSIDE the join stage, before any pair-keyed exchange.
A df cap is deliberately absent — exactness is this operator's contract; use
the LSH path when an approximate answer is acceptable at lower cost.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, IntegralType, StructField

from incubator_sedona_spark.operators.joins import (
    _arrow_stage, _broadcast_limit, _broadcast_size, _collect_batch, _expand,
)
from incubator_sedona_spark.operators.knn import _ROUND_PAIRS

# the dedup family's shared candidate-pair pipeline (_self_pairs,
# _jaccard_verify), its pin registry, and the lane-packed count-vector bound
# (_cv_aggs/_cv_min_sum, with its overflow and JIT-cliff notes)
from incubator_sedona_spark.pipeline.dedup import (
    _CV_LONGS,
    _cv_aggs,
    _cv_min_sum,
    _jaccard_verify,
    _pin,
    _self_pairs,
    _shingle_hash_rows,
)

# the probe's bound on its prefix self-join, sum of c*(c-1)/2 over the prefix
# postings: the probe generates every one of those pairs in numpy, while the
# Catalyst plan's count-vector bound prunes them inside its join.  Measured
# on prefixes of the sf0.1 documents (t=0.8, local[4], 4 vCPU, warm best of
# 2, probe vs Catalyst): 1.4M pairs 1.12 vs 3.03 s, 3.8M 1.16 vs 2.67 s,
# 7.3M 1.43 vs 2.71 s, 15.7M 2.82 vs 5.17 s, 24.7M (all 5,000 documents)
# 3.30 vs 4.17 s.  The probe grows ~0.09 us per pair and Catalyst stays at
# 3-5 s, so they cross near 2^25; past it a flood corpus (many near-identical
# documents) keeps the Catalyst plan.
_PROBE_PREFIX_PAIRS = 1 << 25


def exact_jaccard_self_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 5,
) -> DataFrame:
    """All pairs (id_a < id_b, jaccard) with character-``shingle_k``-shingle
    Jaccard >= threshold — EXACT (prefix-filter candidates + exact verify).

    Emits the same measure as ``minhash_lsh_dup_pairs(verify="exact")`` but
    with zero probabilistic misses, at the cost of the prefix join's
    sensitivity to corpus-wide near-duplicate structure.  A NULL id takes
    no part; rows sharing an id are one document (their shingles merge);
    ``id_a``/``id_b`` keep the id column's type.

    Which plan runs: the broadcast probe (:func:`_ppjoin_probe`) when the
    input does not stream, the id column is integral and the per-doc set
    table passes three checks, in this order: the optimizer would broadcast
    it (``operators.joins._broadcast_size``, which runs no job and keeps
    stat-less, list-built inputs on Catalyst); its real size (8 bytes per
    shingle hash and per id, one scalar aggregate over the table) is at
    most ``spark.sql.autoBroadcastJoinThreshold`` — the optimizer's
    estimate of an ``array<long>`` column reads 54-78x low; and, once
    collected, its prefix self-join holds at most ``_PROBE_PREFIX_PAIRS``
    rows.  Past the first check the set table is a local checkpoint,
    materialized by the size check's job: the probe reads it once, when
    the operator is called (the returned DataFrame keeps probing that
    index), and when a later check fails the Catalyst plan
    (:func:`_prefix_join`) runs over it, so nothing is recomputed.  A
    table that fails the first check is pinned (``dedup._pin``) instead.
    """
    raw = _shingle_hash_rows(df, text_col, shingle_k, id_col)
    # one aggregate replaces dropDuplicates(id, sh) + a later re-grouping:
    # collect_set dedupes per doc inside the (sole) row-level exchange.
    sets0 = raw.groupBy(id_col).agg(F.collect_set("__sh").alias("__shs"))
    if (sets0.isStreaming or not isinstance(sets0.schema[id_col].dataType, IntegralType)
            or _broadcast_size(sets0) is None):
        return _prefix_join(_pin(sets0), id_col, threshold)
    # materialized by the size check's one job (a pinned table would take a
    # job of its own to build, under AQE), then read by the collect or by
    # the Catalyst plan
    sets0 = sets0.localCheckpoint(eager=False)
    probe = _ppjoin_probe(sets0, threshold)
    return probe if probe is not None else _prefix_join(sets0, id_col, threshold)


def _prefix_len(n, t: float):
    """PPJoin's probe prefix, ``n - ceil(t*n) + 1`` elements, over ints or
    Columns.  The 1e-9 slack inside the ceil() (and inside the overlap
    cutoff of :func:`_alpha`) removes a floating-point landmine: t*n and
    t/(1+t)*(na+nb) are not dyadic rationals, so when the exact product
    lands ON an integer the double can come out a hair above it and ceil()
    would shorten a prefix / raise the overlap cutoff past an
    exactly-qualifying pair.  Slack only ever ADMITS a borderline pair (the
    exact verify settles it) — it can never drop one."""
    if isinstance(n, np.ndarray):
        return n - np.ceil(n * t - 1e-9).astype(np.int64) + 1
    return (n - F.ceil(n * F.lit(t) - F.lit(1e-9)) + 1).cast("int")


def _alpha(na, nb, t: float):
    """The overlap a pair of set sizes ``na``, ``nb`` needs for Jaccard >= t."""
    if isinstance(na, np.ndarray):
        return np.ceil(t / (1.0 + t) * (na + nb) - 1e-9)
    return F.ceil(F.lit(t / (1.0 + t)) * (na + nb) - F.lit(1e-9))


def _round_slices(work: np.ndarray):
    """Consecutive (start, stop) runs of items whose summed ``work`` stays
    within ``_ROUND_PAIRS`` (plus the last item's own work)."""
    part = (np.cumsum(work) - work) // _ROUND_PAIRS
    cuts = np.flatnonzero(np.diff(part)) + 1
    bounds = np.concatenate([[0], cuts, [len(work)]])
    return zip(bounds[:-1], bounds[1:])


def _ppjoin_probe(sets0: DataFrame, threshold: float) -> DataFrame | None:
    """Broadcast PPJoin over the (id, ``__shs``) set table, or None when the
    table fails the size checks (see :func:`exact_jaccard_self_join`).

    Build: the table is collected once (``toArrow``).  NULL ids are dropped
    and documents sorted by id, so document order is id order.  Every
    element gets its rank in the global (document frequency, hash) order;
    each document's set is stored as its ascending ranks (one flat array,
    documents at fixed offsets); the prefix postings list, per rank, the
    documents holding it in their prefix, with its position there.

    Probe: ONE ``mapInArrow`` over ``spark.range`` of the document
    positions.  Per batch, each document a pairs with the documents b > a
    in the postings of its prefix ranks; a pair's count, largest a- and
    b-side positions give the positional bound, after the size-ratio prune.
    Survivors are verified exactly: each element of the smaller set is
    looked up in the other's ranks (``searchsorted`` on one sorted
    (document, rank) key array).  Pairs are generated a round of documents
    at a time and verified a round of pairs at a time, each round bounded
    by ``_ROUND_PAIRS`` pairs or looked-up elements.
    """
    # one task, no exchange: the same job computes the checkpointed table
    (elems,) = sets0.coalesce(1).select(F.sum(F.size("__shs") + 1)).first()
    if 8 * (elems or 0) > _broadcast_limit(sets0):
        return None
    batch = _collect_batch(sets0)
    valid = batch.column(0).is_valid()
    ids = batch.column(0).filter(valid).to_numpy(zero_copy_only=False)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    lists = batch.column(1).filter(valid).take(pa.array(order))
    n = pc.list_value_length(lists).to_numpy(zero_copy_only=False).astype(np.int64)
    hashes = pc.list_flatten(lists).to_numpy(zero_copy_only=False)
    t = float(threshold)
    docs = len(ids)
    off = np.cumsum(n) - n
    uniq, inv, dfreq = np.unique(hashes, return_inverse=True, return_counts=True)
    width = max(len(uniq), 1)
    rank_of = np.empty(len(uniq), np.int64)
    rank_of[np.lexsort((uniq, dfreq))] = np.arange(len(uniq))
    doc_of = np.repeat(np.arange(docs, dtype=np.int64), n)
    # (document, rank) keys, sorted: each document's ranks ascending, in place
    keys = np.sort(doc_of * width + rank_of[inv.reshape(-1)])
    ranks = keys - doc_of * width
    plen = np.clip(_prefix_len(n, t), 0, n)
    pdoc, ppos = _expand(np.zeros(docs, np.int64), plen)
    pkey = ranks[off[pdoc] + ppos] * docs + pdoc
    porder = np.argsort(pkey, kind="stable")
    pkey, pdoc, ppos = pkey[porder], pdoc[porder], ppos[porder]
    per_rank = np.bincount(pkey // max(docs, 1), minlength=1)
    if int((per_rank * (per_rank - 1) // 2).sum()) > _PROBE_PREFIX_PAIRS:
        return None

    spark = sets0.sparkSession
    parts = max(1, min(docs, spark.sparkContext.defaultParallelism))
    # task j of spark.range gets every parts-th document: a document pairs
    # only with later ones, so contiguous ranges would leave the first task
    # most of the work
    perm = np.concatenate([np.arange(j, docs, parts) for j in range(parts)]).astype(np.int64)
    id_arrow = batch.schema.field(0).type

    def _verify(a, b):
        small = np.where(n[a] <= n[b], a, b)
        large = a + b - small
        grp, pos = _expand(off[small], n[small])
        look = large[grp] * width + ranks[pos]
        at = np.minimum(np.searchsorted(keys, look), len(keys) - 1)
        inter = np.bincount(grp, keys[at] == look, len(a)).astype(np.int64)
        jac = inter / (n[a] + n[b] - inter).astype(np.float64)
        ok = jac >= threshold
        return a[ok], b[ok], jac[ok]

    def _pairs(a, pos, lo, hi):
        """The candidate pairs (a, b) of prefix entries (document ``a``, its
        position ``pos``) whose postings run over ``[lo, hi)``."""
        g, q = _expand(lo, hi - lo)
        a, b, i, j = a[g], pdoc[q], pos[g], ppos[q]
        # size-ratio prune, implied by jaccard >= t
        keep = (n[b] * t <= n[a]) & (n[a] * t <= n[b])
        pair = a[keep] * docs + b[keep]
        o = np.argsort(pair, kind="stable")
        pair, i, j = pair[o], i[keep][o], j[keep][o]
        if not len(pair):
            return pair, pair
        start = np.flatnonzero(np.concatenate([[True], pair[1:] != pair[:-1]]))
        cnt = np.diff(np.append(start, len(pair)))
        imax, jmax = np.maximum.reduceat(i, start), np.maximum.reduceat(j, start)
        a, b = pair[start] // docs, pair[start] % docs
        # PPJoin positional filter (see _prefix_join)
        ok = cnt + np.minimum(n[a] - imax - 1, n[b] - jmax - 1) >= _alpha(n[a], n[b], t)
        return a[ok], b[ok]

    def _probe(batches):
        for rb in batches:
            da = perm[rb.column(0).to_numpy(zero_copy_only=False)]
            ent, pos = _expand(np.zeros(len(da), np.int64), plen[da])
            a = da[ent]
            r = ranks[off[a] + pos]
            lo = np.searchsorted(pkey, r * docs + a, "right")  # postings b > a
            hi = np.searchsorted(pkey, (r + 1) * docs, "left")
            first = np.concatenate([[0], np.cumsum(plen[da])])
            # a round holds whole documents, so each pair's count and
            # largest positions are complete within it
            for d0, d1 in _round_slices(np.bincount(ent, hi - lo, len(da)).astype(np.int64)):
                e = slice(first[d0], first[d1])
                ca, cb = _pairs(a[e], pos[e], lo[e], hi[e])
                for p0, p1 in _round_slices(np.minimum(n[ca], n[cb])):
                    va, vb, jac = _verify(ca[p0:p1], cb[p0:p1])
                    if len(va):
                        yield [pa.array(ids[va], id_arrow), pa.array(ids[vb], id_arrow),
                               pa.array(jac, pa.float64())]

    id_type = sets0.schema[0].dataType
    fields = [StructField("id_a", id_type), StructField("id_b", id_type),
              StructField("jaccard", DoubleType())]
    return _arrow_stage(spark.range(0, docs, numPartitions=parts), _probe, fields,
                        ["id_a", "id_b", "jaccard"])


def _prefix_join(sets0: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The Catalyst PPJoin over the pinned (id, ``__shs``) set table.

    On the suffix filter (Xiao et al. 2008 §4.2), evaluated and deliberately
    NOT adopted: (1) every unmatched shared element of a candidate pair
    exceeds the largest matched prefix value (if v ∈ A∩B is unmatched, it
    sits in at least one suffix, hence above that side's whole prefix,
    hence above the largest match — and above it in BOTH arrays since the
    order is global), so ALL residual overlap already lives in the tails
    the positional filter counts; a positions-only "suffix" term can never
    tighten it.  (2) Probing suffix CONTENT needs the sorted arrays per
    pair; here the global order is (df, xxhash64), so the suffixes of
    non-duplicate documents are i.i.d.-uniform in the order space and a
    depth-limited partition probe returns the trivial bound with high
    probability — all cost, no prune.  (3) The asymmetric index prefix —
    the suffix filter's usual companion — was implemented and measured
    end-to-end 2-3.5x SLOWER here (see the prefix-stage comment), because
    without a per-probe suffix filter the shortened prefix guts the
    positional filter.  The wall-clock wins that DID land: one collect_set
    aggregate builds the per-doc sets (no separate dropDuplicates
    exchange), the count-vector bound filters the flood join map-side
    (candidate exchange 108.6M -> ~1.4M rows on the sf1 corpus), and the
    positional filter then prunes the surviving pair aggregate.
    """
    # sets0 is hash-partitioned by id; explode/broadcast-join/groupBy(id)
    # below all preserve that clustering, so when the df relation is small
    # enough for AQE to broadcast, the ordered build adds NO further
    # exchange of element rows.
    ex = sets0.select(id_col, F.explode("__shs").alias("__sh"))
    # global ascending-df order over shingles; (df, hash) is a total order
    dfreq = ex.groupBy("__sh").agg(F.count("*").alias("__df"))
    cv_cols = [f"__cv{j}" for j in range(_CV_LONGS)]
    ordered = (
        ex.join(dfreq, "__sh")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__sh")))
            ).alias("__ord"),
            *_cv_aggs(),
        )
        .select(
            id_col,
            F.transform(F.col("__ord"), lambda s: s["__sh"]).alias("__set"),
            F.size("__ord").alias("__n"),
            # NOT NULL counts: a NULL long (a lane overflow, see _cv_aggs)
            # needs a set of more than 32,767 elements, which the bound
            # below admits anyway, and non-nullable inputs drop the NULL
            # tracking from the bound's generated code: its stage's largest
            # method is 6,067 bytes with AQE off, against 7,974 for the
            # nullable counts (HotSpot's limit is 8,000; see dedup's notes)
            *[F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c) for c in cv_cols],
        )
    )
    # consumed by THREE downstream plans (prefix sides a/b + the verify set
    # join); Catalyst does not CSE across join sides, so without the pin the
    # shingle+df pipeline runs three times.  (id, hashes, n, counts) rows
    # only.  Registered with dedup's pin registry: release_cached() unpins.
    ordered = _pin(ordered)
    # SYMMETRIC probe prefixes (n - ceil(t*n) + 1 per side), deliberately.
    # The classic asymmetric index prefix (Xiao et al. 2008 / Bayardo et
    # al. 2007: the (n,id)-smaller side explodes only n - ceil(2t/(1+t)*n)
    # + 1 rows) was implemented and MEASURED on the sf0.1 corpus at t=0.7:
    # it cuts prefix-join traffic 23.9M -> 14.6M matched rows (-39%) but
    # caps the smaller side's max match position at the short prefix, which
    # guts the positional filter (post-filter verify candidates 532K ->
    # 1.81M, and verify ships the full hash-set arrays) — end-to-end wall
    # 2-3.5x SLOWER on identical 256-pair output.  The index prefix pays
    # off in index-probe architectures where the suffix filter re-tightens
    # the bound per probe; in this batch plan the positional filter is the
    # only array-free prune, so both sides keep the full probe prefix.
    t = float(threshold)
    prefixes = ordered.select(
        F.col(id_col),
        F.col("__n"),
        *cv_cols,
        F.posexplode(F.slice(F.col("__set"), 1, _prefix_len(F.col("__n"), t))).alias("__i", "__p"),
    )
    na, nb = F.col("__n_a"), F.col("__n_b")
    alpha = _alpha(na, nb, t)
    matched = _self_pairs(prefixes, id_col, ["__p"], ["__n", "__i", *cv_cols]).where(
        # size-ratio prune, implied by jaccard >= t — result-preserving
        (nb * F.lit(t) <= na)
        & (na * F.lit(t) <= nb)
        # count-vector bound, evaluated in the join stage: sum-min >= overlap
        # always; oversized sets (a lane may overflow or spill, see _cv_aggs)
        # are admitted, not dropped.
        & ((_cv_min_sum("_a", "_b") >= alpha) | (na > 32767) | (nb > 32767))
    )
    # PPJoin positional filter (Xiao et al. 2008), batch form — provably
    # result-preserving: both arrays are sorted by the SAME global order, so
    # every shared element outside the c prefix matches is globally larger
    # than the largest match, hence at position > imax in A and > jmax in B;
    # overlap <= c + min(na-imax-1, nb-jmax-1).  With the count-vector bound
    # upstream this aggregate sees only the flood survivors (sf1 corpus:
    # ~1.4M rows instead of 108.6M), and prunes them a further 7x before
    # the set-array verify (374k -> 53k pairs).
    grp = matched.groupBy("id_a", "id_b", "__n_a", "__n_b").agg(
        F.count("*").alias("__c"),
        F.max("__i_a").alias("__imax"),
        F.max("__i_b").alias("__jmax"),
    )
    ubound = F.col("__c") + F.least(na - F.col("__imax") - 1, nb - F.col("__jmax") - 1)
    cand = grp.where(ubound >= alpha).select("id_a", "id_b")
    return _jaccard_verify(cand, ordered, id_col, "__set", threshold)
