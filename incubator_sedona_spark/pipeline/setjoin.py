"""EXACT set-similarity self-join via prefix filtering (PPJoin family).

Chaudhuri et al. 2006 / Xiao et al. 2008 (public algorithms): for Jaccard(A, B)
>= t, A and B must share at least one element among their PREFIXES — the
first ``|S| - ceil(t * |S|) + 1`` elements of each set under a single global
element order.  Ordering the universe by ASCENDING document frequency puts the
RAREST elements in the prefix, so the prefix equi-join generates few
candidates even on corpora where every pair shares common elements — the
regime where LSH banding floods (see pipeline.dedup.minhash_lsh_dup_pairs).

Unlike LSH this is deterministically EXACT: the prefix condition is necessary
(no qualifying pair can be missed), and every candidate is verified with a
native array_intersect Jaccard.  Fully Catalyst plan: per-doc shingle-set
aggregate -> frequency-sorted set + lane-packed bucket counts -> prefix
explode -> equi-join with a map-side count-vector overlap bound -> positional
filter -> verify join.

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

from pyspark.sql import DataFrame, functions as F

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


def exact_jaccard_self_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 5,
) -> DataFrame:
    """All pairs (id_a < id_b, jaccard) with character-``shingle_k``-shingle
    Jaccard >= threshold — EXACT (prefix-filter candidates + native verify).

    Emits the same measure as ``minhash_lsh_dup_pairs(verify="exact")`` but
    with zero probabilistic misses, at the cost of the prefix join's
    sensitivity to corpus-wide near-duplicate structure.

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
    raw = _shingle_hash_rows(df, text_col, shingle_k, id_col)
    # one aggregate replaces dropDuplicates(id, sh) + a later re-grouping:
    # collect_set dedupes per doc inside the (sole) row-level exchange.
    sets0 = _pin(raw.groupBy(id_col).agg(F.collect_set("__sh").alias("__shs")))
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
            *cv_cols,
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
    # the 1e-9 slack inside both ceil()s removes a floating-point landmine:
    # t*n and t/(1+t)*(na+nb) are not dyadic rationals, so when the exact
    # product lands ON an integer the double can come out a hair above it
    # and ceil() would shorten a prefix / raise the overlap cutoff past an
    # exactly-qualifying pair.  Slack only ever ADMITS a borderline pair
    # (the exact verify settles it) — it can never drop one.
    t = float(threshold)
    plen = (
        F.col("__n") - F.ceil(F.col("__n") * F.lit(t) - F.lit(1e-9)) + 1
    ).cast("int")
    prefixes = ordered.select(
        F.col(id_col),
        F.col("__n"),
        *cv_cols,
        F.posexplode(F.slice(F.col("__set"), 1, plen)).alias("__i", "__p"),
    )
    na, nb = F.col("__n_a"), F.col("__n_b")
    # a qualifying pair needs overlap >= alpha
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (na + nb) - F.lit(1e-9))
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
