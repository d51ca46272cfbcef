"""Unit tests for the blocked similarity join (SURVEY.md §2.4 J8/J9).

The scale property under test: block row size is bounded by
TARGET_BLOCK_ROWS regardless of input size (VERDICT r01 'What's wrong'
#2 — a fixed block COUNT packs n/8 vectors into one Arrow row and dies
at 100x scale; the auto-sizer grows the count with the data instead).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ontoea_spark.operators import simjoin as SJ


def _vec_df(spark, n, dim=4, seed=7):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)], "id long, vec array<double>"
    ), mat


def test_auto_blocks_grow_with_input(spark):
    big = spark.range(100_000).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(2.0)).alias("vec")
    )
    nb = SJ._auto_blocks(big)
    assert nb >= -(-100_000 // SJ.TARGET_BLOCK_ROWS)  # >= 13
    packed = SJ._pack_blocks(big, "id", "vec", None, "l")
    sizes = [r.n for r in packed.select(F.size("lids").alias("n")).collect()]
    # pmod blocking is uniform: no block row may exceed the target (+1
    # for remainder rounding)
    assert max(sizes) <= SJ.TARGET_BLOCK_ROWS + 1
    assert sum(sizes) == 100_000


def test_auto_blocks_parallelism_floor(spark):
    tiny = spark.range(32).select(
        F.col("id"), F.array(F.lit(0.5)).alias("vec")
    )
    par = spark.sparkContext.defaultParallelism
    assert SJ._auto_blocks(tiny) >= max(1, int(par**0.5))


@pytest.mark.parametrize("metric", ["cosine", "inner", "euclidean", "manhattan"])
def test_blocked_topk_matches_bruteforce(spark, metric):
    left_df, lm = _vec_df(spark, 23, seed=1)
    right_df, rm = _vec_df(spark, 37, seed=2)
    k = 3
    got = {
        (r.lid, r.rk): r.rid
        for r in SJ.blocked_topk_join(
            left_df, right_df, k=k, metric=metric
        ).collect()
    }
    sims = np.round(SJ._block_scores(lm.copy(), rm.copy(), metric), 6)
    for lid in range(23):
        # expected order: sim desc, rid asc (deterministic tie-break)
        order = sorted(range(37), key=lambda j: (-sims[lid, j], j))[:k]
        for rk, rid in enumerate(order, start=1):
            assert got[(lid, rk)] == rid, (metric, lid, rk)


def test_ivf_nprobe_all_cells_equals_exact(spark):
    """With nprobe >= n_cells every query probes every cell, the
    candidate set is all pairs, and IVF top-1 must equal the exact
    blocked top-1 bit-for-bit — the degenerate-equality gate for the
    multi-probe knob. Also pins monotonicity: answered queries never
    decrease as nprobe grows."""
    left_df, _ = _vec_df(spark, 20, seed=3)
    right_df, _ = _vec_df(spark, 30, seed=4)
    cents = right_df.filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("cid"), F.col("vec").alias("cvec")
    )  # 3 cells
    exact = {
        r.lid: (r.rid, r.sim)
        for r in SJ.blocked_topk_join(left_df, right_df, k=1).collect()
    }
    answered = []
    for np_ in (1, 2, 3):
        got = {
            r.lid: (r.rid, r.sim)
            for r in SJ.ivf_topk_join(
                left_df, right_df, cents, k=1, nprobe=np_
            ).collect()
        }
        answered.append(len(got))
        if np_ >= 3:
            assert got == exact
    assert answered == sorted(answered)
    with pytest.raises(ValueError, match="nprobe"):
        SJ.ivf_topk_join(left_df, right_df, cents, k=1, nprobe=0)

    # a query exactly between two centroids probes the lower cid at
    # nprobe=1 (cell 1 holds rid 10); both cells hold the better rid 20
    tie_cents = spark.createDataFrame(
        [(2, [-1.0, 0.0]), (1, [1.0, 0.0])], "cid long, cvec array<double>"
    )
    query = spark.createDataFrame([(0, [0.0, 1.0])], "id long, vec array<double>")
    corpus = spark.createDataFrame(
        [(10, [2.0, 0.1]), (20, [-2.0, 0.5])], "id long, vec array<double>"
    )
    for np_, want in ((1, 10), (2, 20)):
        top = SJ.ivf_topk_join(query, corpus, tie_cents, k=1, nprobe=np_)
        assert [r.rid for r in top.collect()] == [want]


def test_csls_candidates_degenerate_equals_full(spark):
    """csls_candidate_scores with k_cand >= |right| must reproduce the
    full-matrix CSLS exactly (same pairs, same csls values) — the
    candidate protocol's only approximation is the restriction of the
    final ranking to candidate pairs, which vanishes here."""
    left_df, _ = _vec_df(spark, 15, seed=3)
    right_df, _ = _vec_df(spark, 12, seed=4)
    full = SJ.csls_rescale(
        SJ.all_pairs_scores(left_df, right_df, metric="cosine"), k=5
    )
    cand = SJ.csls_candidate_scores(
        left_df, right_df, k_cand=12, csls_k=5
    )
    f = {(r.lid, r.rid): r.csls for r in full.collect()}
    c = {(r.lid, r.rid): r.csls for r in cand.collect()}
    assert f == c


def test_csls_candidates_rejects_short_topk(spark):
    left_df, _ = _vec_df(spark, 5, seed=3)
    with pytest.raises(ValueError):
        SJ.csls_candidate_scores(left_df, left_df, k_cand=3, csls_k=5)


def test_csls_partition_invariant(spark):
    """The csls column must be BIT-identical regardless of partitioning:
    the neighborhood means are a sorted left fold, not F.avg (which
    accumulates in partition order and once flaked a 1-ulp / 0.5e-6
    rounding-boundary mismatch vs the DuckDB oracle — VERDICT r4 #1)."""
    left_df, _ = _vec_df(spark, 40, seed=7)
    right_df, _ = _vec_df(spark, 40, seed=8)
    scores = SJ.all_pairs_scores(left_df, right_df, metric="cosine")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for np_, reparts in ((3, 1), (31, 16), (64, 7)):
            spark.conf.set("spark.sql.shuffle.partitions", str(np_))
            out = SJ.csls_rescale(scores.repartition(reparts), k=10)
            results.append(
                {(r.lid, r.rid): repr(r.csls) for r in out.collect()}
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1] == results[2]
