"""Blocked cosine/inner top-k similarity join — the engine's signature
operator (SURVEY.md §2.4 J8/J9; reference: dense n1 x n2 matmul at
similarity.py:9-52 + per-row rank at alignment.py:139-171).

The reference materializes the full similarity matrix in RAM. At 100 TB
that is impossible; here the same semantics become a *blocked* join:

  1. pack each side into B blocks of rows -> one row per block holding an
     id array + a matrix (collect_list of vectors);
  2. cross-join the block pairs (NL x NR rows total — tiny);
  3. a mapInPandas kernel does the NumPy matmul per block pair and emits
     only each left row's block-local top-k (k x NL x NR candidate rows,
     not n1 x n2);
  4. a window merges block-local top-ks into the exact global top-k.

Exactness: per-block top-k >= global top-k per row, so step 4 recovers
the exact answer. Shuffle volume is (n1*NR + n2*NL) vector replicas —
choose block counts so a block pair's matmul fits executor memory. Skewed
ids don't matter (blocks are uniform by construction via pmod).

The ANN scale path (:func:`lsh_topk_join`) swaps step 2's full block
cross-join for candidate buckets from random-hyperplane signatures —
same kernel, subquadratic candidate generation, recall < 1.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import portable_hash64
from ontoea_spark.operators.kmeans import _nearest


def _block_scores(lm, rm, metric: str):
    """Per-block pairwise scores (similarity.py:33-49 semantics):
    'inner' raw dot; 'cosine' normalize-then-dot; 'euclidean' 1 - L2
    distance; 'manhattan' 1 - cityblock distance."""
    if metric in ("cosine", "inner"):
        if metric == "cosine":
            ln = np.linalg.norm(lm, axis=1, keepdims=True)
            rn = np.linalg.norm(rm, axis=1, keepdims=True)
            ln[ln == 0] = 1.0
            rn[rn == 0] = 1.0
            lm = lm / ln
            rm = rm / rn
        return lm @ rm.T
    if metric == "euclidean":
        sq = (
            np.sum(lm * lm, axis=1)[:, None]
            + np.sum(rm * rm, axis=1)[None, :]
            - 2.0 * (lm @ rm.T)
        )
        return 1.0 - np.sqrt(np.maximum(sq, 0.0))
    if metric == "manhattan":
        return 1.0 - np.abs(lm[:, None, :] - rm[None, :, :]).sum(axis=2)
    raise ValueError(f"unknown metric {metric!r}")


# Upper bound on rows packed into one block row. A block is ONE row
# holding an id array + vector list, so its size is bounded by Arrow's
# single-row limits, not executor memory: 8192 vectors x dim 300 x 8 B
# ~ 20 MB/row — comfortable; 10^7 vectors/row would not be. Block
# COUNTS therefore must grow with input size — see _auto_blocks.
TARGET_BLOCK_ROWS = 8192


def _auto_blocks(df: DataFrame, target_rows: int = TARGET_BLOCK_ROWS) -> int:
    """Number of blocks so no block row packs more than ~target_rows
    vectors (uniform pmod blocking => blocks are balanced). The count is
    one cheap job, negligible next to the matmul stage; at cluster scale
    it is a count over the (already-pruned) id+vec projection.

    Lower-bounded by sqrt(defaultParallelism) so the block-pair cross
    join yields >= ~cores kernel tasks even on small inputs — block
    count must grow with DATA for memory and never drop below the
    CLUSTER's parallelism floor."""
    n = df.count()
    par = df.sparkSession.sparkContext.defaultParallelism
    min_blocks = max(1, int(par ** 0.5))
    return max(min_blocks, -(-n // target_rows))


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str, n_blocks: int | None, side: str) -> DataFrame:
    if n_blocks is None:
        n_blocks = _auto_blocks(df)
    # Block on a HASH of the id, not the raw id: pmod(id, n) collapses
    # structured id sets (even-only ids with even n land in half the
    # residues; strides sharing a factor with n are worse) and would void
    # the TARGET_BLOCK_ROWS per-row memory bound. xxhash64 disperses any
    # id structure; block membership never affects results (every
    # left-block x right-block pair is scored), only balance.
    b = F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_blocks)).alias(f"{side}b")
    return (
        df.select(b, F.col(id_col).cast("long").alias(f"{side}id"), F.col(vec_col).alias("vec"))
        .groupBy(f"{side}b")
        .agg(
            F.collect_list(f"{side}id").alias(f"{side}ids"),
            F.collect_list("vec").alias(f"{side}vecs"),
        )
    )


def blocked_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    metric: str = "cosine",
    n_left_blocks: int | None = None,
    n_right_blocks: int | None = None,
    round_to: int | None = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k similarity join.

    Block counts default to auto-sizing (``ceil(n / TARGET_BLOCK_ROWS)``
    per side from a cheap count) so a block row never packs an unbounded
    vector list — pass explicit counts only to pin a layout in tests.

    ``exclude_self``: for self-joins over a shared id space, mask pairs
    with lid == rid inside the kernel (before top-k pruning).

    Returns DataFrame[lid, rid, sim, rk] with rk in 1..k per lid, ordered
    deterministically by (sim desc, rid asc) — the rid tie-break keeps
    ranks reproducible across engines/partitionings. ``round_to`` rounds
    sim before ranking so cross-engine float noise (~1e-15) cannot flip
    ranks; pass None for raw doubles.

    metric: 'cosine' (normalize then inner) or 'inner'
    (similarity.py:33-36 semantics).
    """
    lp = _pack_blocks(left, left_id, left_vec, n_left_blocks, "l")
    rp = _pack_blocks(right, right_id, right_vec, n_right_blocks, "r")
    pairs = lp.crossJoin(rp)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                lids = np.asarray(row.lids, dtype=np.int64)
                rids = np.asarray(row.rids, dtype=np.int64)
                lm = np.array([np.asarray(v, dtype=np.float64) for v in row.lvecs])
                rm = np.array([np.asarray(v, dtype=np.float64) for v in row.rvecs])
                sims = _block_scores(lm, rm, metric)  # (nl, nr) float64
                if exclude_self:
                    sims[lids[:, None] == rids[None, :]] = -np.inf
                kk = min(k, sims.shape[1])
                # block-local top-k per left row (argpartition then exact sort)
                if kk < sims.shape[1]:
                    idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                else:
                    idx = np.broadcast_to(
                        np.arange(sims.shape[1]), sims.shape
                    ).copy()
                rows_l = np.repeat(lids, idx.shape[1])
                rows_r = rids[idx.ravel()]
                rows_s = np.take_along_axis(sims, idx, axis=1).ravel()
                outs.append(
                    pd.DataFrame({"lid": rows_l, "rid": rows_r, "sim": rows_s})
                )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame({"lid": [], "rid": [], "sim": []})
            )

    cand = pairs.mapInPandas(kernel, schema="lid long, rid long, sim double")
    if exclude_self:
        cand = cand.filter(F.col("sim") != float("-inf"))
    if round_to is not None:
        cand = cand.withColumn("sim", F.round("sim", round_to))
    w = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("lid", "rid", "sim", "rk")
    )


def all_pairs_scores(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    metric: str = "cosine",
    n_left_blocks: int | None = None,
    n_right_blocks: int | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Full pairwise score table DataFrame[lid, rid, sim] (blocked matmul,
    no top-k pruning). Use only at evaluation scale — this IS n1 x n2 rows;
    the scale path is :func:`blocked_topk_join`."""
    lp = _pack_blocks(left, left_id, left_vec, n_left_blocks, "l")
    rp = _pack_blocks(right, right_id, right_vec, n_right_blocks, "r")
    pairs = lp.crossJoin(rp)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                lids = np.asarray(row.lids, dtype=np.int64)
                rids = np.asarray(row.rids, dtype=np.int64)
                lm = np.array([np.asarray(v, dtype=np.float64) for v in row.lvecs])
                rm = np.array([np.asarray(v, dtype=np.float64) for v in row.rvecs])
                sims = _block_scores(lm, rm, metric)
                nl, nr = sims.shape
                yield pd.DataFrame(
                    {
                        "lid": np.repeat(lids, nr),
                        "rid": np.tile(rids, nl),
                        "sim": sims.ravel(),
                    }
                )

    out = pairs.mapInPandas(kernel, schema="lid long, rid long, sim double")
    if round_to is not None:
        out = out.withColumn("sim", F.round("sim", round_to))
    return out


def lsh_bucket(vec_col: str, n_planes: int = 4, salt: str = "lshp") -> F.Column:
    """Random-hyperplane LSH bucket of an array<numeric> column — fully
    deterministic and engine-portable: plane j's component for dimension d
    is ±1 by the parity of the portable md5 hash of '<salt><j>:<d>', so
    Spark and DuckDB derive identical signatures (no stored plane matrix).

    bit_j = sign(Σ_d vec[d] · h(j, d));  bucket = concat(bits).

    JVM-side expression (one pass per plane). The scale path for ANN:
    equi-join the bucket column — shuffle hash join, subquadratic — then
    rank candidates. Recall < 1 by construction; raise n_planes for
    precision, lower for recall, or OR multiple bands (as in dedup's
    MinHash banding).
    """
    bits = []
    for j in range(n_planes):
        s = (
            f"aggregate(zip_with(cast({vec_col} as array<double>),"
            f" sequence(0, size({vec_col}) - 1),"
            f" (v, d) -> v * IF(conv(substring(md5(concat('{salt}', '{j}', ':', cast(d as string))), 1, 15), 16, 10) % 2 = 0, 1.0D, -1.0D)),"
            f" cast(0.0 as double), (acc, x) -> acc + x)"
        )
        bits.append(F.when(F.expr(s) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_sql(vec_expr: str, n_planes: int = 4, salt: str = "lshp") -> str:
    """DuckDB fragment computing the identical bucket string."""
    bits = []
    for j in range(n_planes):
        h = (
            f"CAST(('0x' || substr(md5('{salt}{j}:' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        s = (
            f"list_sum([({vec_expr})[i] * (CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END)"
            f" for i in range(1, len({vec_expr}) + 1)])"
        )
        bits.append(f"(CASE WHEN {s} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def lsh_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    n_planes: int = 4,
    round_to: int | None = 6,
) -> DataFrame:
    """Approximate cosine top-k join: candidates share an LSH bucket
    (equi-join on the signature — subquadratic), then exact cosine ranks
    within the candidate set. Left rows whose bucket has no right-side
    member produce no output (recall loss, by design).

    Returns DataFrame[lid, rid, sim, rk] like :func:`blocked_topk_join`.
    """
    from ontoea_spark.functions.vectors import cosine

    l = left.select(
        F.col(left_id).cast("long").alias("lid"),
        F.col(left_vec).alias("lvec"),
        lsh_bucket(left_vec, n_planes).alias("bucket"),
    )
    r = right.select(
        F.col(right_id).cast("long").alias("rid"),
        F.col(right_vec).alias("rvec"),
        lsh_bucket(right_vec, n_planes).alias("bucket"),
    )
    cand = l.join(r, "bucket").select(
        "lid", "rid", cosine(F.col("lvec"), F.col("rvec")).alias("sim")
    )
    if round_to is not None:
        cand = cand.withColumn("sim", F.round("sim", round_to))
    w = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("lid", "rid", "sim", "rk")
    )


def ivf_topk_join(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    k: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    round_to: int | None = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: both sides are assigned to their nearest centroid
    (coarse quantizer; deterministic argmin by (L2 asc, centroid id asc)),
    candidates share a centroid cell, exact cosine re-ranks within the
    cell. centroids: DataFrame[cid, cvec].

    ``nprobe``: the query (left) side probes its ``nprobe`` nearest
    cells instead of one — the standard IVF recall knob (corpus rows
    stay indexed in exactly one cell, so a (lid, rid) pair still occurs
    at most once and no dedup is needed). Candidate volume and recall
    both scale ~linearly with nprobe; the recall-vs-nprobe curve is a
    hash-checked driver row (``ann_recall_nprobe``), not a guess.

    At cluster scale the centroid table is broadcast (small) and the
    cell join is a shuffle hash join on cid — same shape as the LSH
    path with a data-adaptive quantizer instead of random planes.
    """
    from ontoea_spark.functions.vectors import cosine, dot, l2_norm

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")

    cents = {
        (0, r["cid"]): r["cvec"] for r in centroids.select("cid", "cvec").collect()
    }

    def assign(df, id_col, vec_col, key, vec, n_cells=1):
        keyed = df.select(
            F.col(id_col).cast("long").alias(key), F.col(vec_col).alias(vec)
        )
        return _nearest(keyed, vec, cents, 9, n_cells).select(
            key, vec, F.explode("cids").alias("cid")
        )

    l = assign(left, left_id, left_vec, "lid", "lvec", nprobe)
    r = assign(right, right_id, right_vec, "rid", "rvec")
    cand = l.join(r, "cid").select(
        "lid", "rid", cosine(F.col("lvec"), F.col("rvec")).alias("sim")
    )
    if round_to is not None:
        cand = cand.withColumn("sim", F.round("sim", round_to))
    w = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("lid", "rid", "sim", "rk")
    )


def csls_candidate_scores(
    left: DataFrame,
    right: DataFrame,
    k_cand: int = 10,
    csls_k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """CSLS over a candidate table — the 100x-scale protocol the
    csls_rescale docstring prescribes, as tested code: the candidate set
    is the UNION of the row-wise and column-wise exact top-k_cand joins,
    so for every candidate pair both CSLS neighborhood means are EXACT
    (each row's/column's true top-csls_k sims are fully contained in the
    union when k_cand >= csls_k — any non-candidate pair scores below
    them by construction). The only approximation vs the full matrix is
    that the final ranking is restricted to candidate pairs; with
    k_cand >= |right| it degenerates to the exact full-matrix CSLS
    (asserted in tests/test_simjoin.py).

    Returns DataFrame[lid, rid, sim, csls] over the candidate pairs.
    """
    if k_cand < csls_k:
        raise ValueError(
            f"k_cand ({k_cand}) must be >= csls_k ({csls_k}) or the "
            "neighborhood means are computed over incomplete top lists"
        )
    rows = blocked_topk_join(left, right, k=k_cand, metric=metric)
    cols = blocked_topk_join(right, left, k=k_cand, metric=metric).select(
        F.col("rid").alias("lid"), F.col("lid").alias("rid"), "sim"
    )
    cand = (
        rows.select("lid", "rid", "sim")
        .unionByName(cols)
        .dropDuplicates(["lid", "rid"])
    )
    # csls_rescale references its input from THREE plan branches (row
    # means, col means, the final join); unmaterialized, each branch
    # would re-execute BOTH blocked top-k matmul joins — 3x the full
    # kernel cost at corpus scale. The candidate table is O(n * k_cand)
    # rows (bounded), so one lazy checkpoint (materialized inside the
    # caller's action, plan truncated) is the scale-correct trade.
    # (The full-matrix csls_rescale path deliberately stays
    # unmaterialized: it is the eval-scale protocol, and measurement
    # showed branch recompute beats persisting n1 x n2 rows there.)
    return csls_rescale(cand.localCheckpoint(eager=False), k=csls_k)


def csls_rescale(scores: DataFrame, k: int = 10, round_to: int = 6) -> DataFrame:
    """CSLS rescaling over a pair-score table (similarity.py:55-81):

        csls(i, j) = 2*sim(i, j) - mean(top-k sims of row i)
                                 - mean(top-k sims of col j)

    Input/output: DataFrame[lid, rid, sim(, csls)]. Note the reference's
    ``calculate_nearest_k`` takes k of the k+1 largest via argpartition —
    an approximation; we compute the exact top-k mean (documented
    deviation, favours correctness).

    At alignment scale the input should be the candidate table from
    :func:`blocked_topk_join` with k_cand >= csls k on *both* sides (the
    union of row-wise and column-wise top-k joins), never the full matrix.

    Determinism: the neighborhood means are computed by an order-invariant
    fold — ``array_sort(collect_list(sim))`` then a left fold — not
    ``F.avg``, whose accumulation order varies with partitioning.  The
    input sims are already rounded (``round_to`` in the producing join),
    so the sorted fold is bit-identical across engines and partitionings;
    ``F.avg`` flaked a 1-ulp difference at a 0.5e-6 rounding boundary
    once per ~80 oracle runs.  The oracle SQL mirrors this with
    ``list_reduce(list_sort(list(sim)), ...)`` (driver_queries.py).
    """

    def _fold_mean(sims):
        # acc starts at 0.0; 0.0 + x == x bitwise, so this equals
        # DuckDB's init-less list_reduce left fold over the sorted list.
        total = F.aggregate(sims, F.lit(0.0), lambda acc, x: acc + x)
        return total / F.size(sims)

    wr = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    wc = Window.partitionBy("rid").orderBy(F.desc("sim"), F.asc("lid"))
    row_top = (
        scores.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .groupBy("lid")
        .agg(F.array_sort(F.collect_list("sim")).alias("sims"))
        .select("lid", _fold_mean(F.col("sims")).alias("near_l"))
    )
    col_top = (
        scores.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= k)
        .groupBy("rid")
        .agg(F.array_sort(F.collect_list("sim")).alias("sims"))
        .select("rid", _fold_mean(F.col("sims")).alias("near_r"))
    )
    return (
        scores.join(row_top, "lid")
        .join(col_top, "rid")
        .withColumn(
            "csls",
            F.round(2 * F.col("sim") - F.col("near_l") - F.col("near_r"), round_to),
        )
        .select("lid", "rid", "sim", "csls")
    )
