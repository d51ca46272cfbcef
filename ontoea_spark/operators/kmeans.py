"""Distributed k-means (Lloyd's) for the IVF coarse quantizer and the PQ
codebooks, and the one nearest-centroid kernel behind every centroid
decision in ``operators/`` — k-means and PQ training, IVF cells, IVF-PQ
cells and codes. Deterministic end to end: hash-ordered init, fixed
iteration count (never rand()), nearest centroid by (round(d2, digits),
cid) with ties to the lower cid, and a NULL vector gets no cell.

Per Lloyd's iteration: one kernel pass over the corpus (a per-row
projection: no join, no per-id shuffle), one groupBy(j, cid, pos) mean,
and one collect of the k x dim centroid matrix (which the next pass
needs driver-side anyway). Feeds
:func:`ontoea_spark.operators.simjoin.ivf_topk_join` and
:mod:`ontoea_spark.operators.pq`.

Golden-tested against independent NumPy transcriptions
(tests/test_kmeans.py, tests/test_pq.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import portable_hash64
from ontoea_spark.session import local_frame


def _nearest(
    df: DataFrame,
    vec: str,
    cents: dict,
    digits: int,
    n: int | None = 1,
    out: str = "cids",
) -> DataFrame:
    """``df`` plus column ``out``: for each subspace j of ``cents``
    (``{(j, cid): cvec}``, collected once; subspace j covers vector
    columns [j*w, (j+1)*w) with w = len(cvec)), the ``n`` nearest cids
    by (round(d2, digits), cid asc), concatenated in j order. With
    ``n=None`` it holds instead every rounded distance in (j, cid)
    order (the IVF-PQ lookup table). A NULL vector gets NULL.

    The split is chosen for bit-exactness. The RAW squared distances
    come from a NumPy kernel in a scalar Arrow UDF: ``cumsum(diff *
    diff)[:, -1]`` is the same left-to-right float64 fold as a 0.0-init
    ``zip_with``/``aggregate`` (squares are never -0.0), whereas
    ``np.sum``, einsum or a matmul sum pairwise or through BLAS and can
    move the last ulp across a rounding tie. Every ROUNDING (HALF_UP
    ``round``) and tie-break stays in JVM SQL, because NumPy's
    scaled-multiply round is not decimal-exact. An interpreted fold
    does O(rows x centroids x dim) per-element work (measured 65 s for
    cell assignment alone at 20k vectors x 400 centroids); the JVM side
    here is O(rows x centroids). ``asNondeterministic`` pins one kernel
    evaluation: otherwise the optimizer substitutes the UDF into every
    consuming expression when it collapses projections."""
    import pandas as pd
    from pyspark.sql import types as T

    keys = sorted(cents)
    mat = np.array([cents[key] for key in keys], dtype=np.float64)
    w = mat.shape[1]
    dim = (keys[-1][0] + 1) * w

    # annotation-free: module-level `from __future__ import annotations`
    # stringifies hints that pandas_udf cannot resolve (scalar form)
    def kernel(v):
        ok = v.notna().to_numpy()
        V = np.array(v[ok].tolist(), dtype=np.float64).reshape(ok.sum(), dim)
        d2 = np.empty((len(V), len(keys)))
        for i, (j, _) in enumerate(keys):
            diff = V[:, j * w : (j + 1) * w] - mat[i]
            d2[:, i] = np.cumsum(diff * diff, axis=1)[:, -1]
        rows = iter(d2)
        return pd.Series([next(rows) if k else None for k in ok])

    raw = f"_{out}_d2"
    if n is None:
        pick = f"transform({raw},d->round(d,{digits}))"
    else:
        picks, off = [], 0
        for j in sorted({j for j, _ in keys}):
            cids = [cid for jj, cid in keys if jj == j]
            cands = (
                f"transform(slice({raw},{off + 1},{len(cids)}),(d,i)->struct("
                f"round(d,{digits}) AS d2,"
                f"element_at(array({','.join(f'{c}L' for c in cids)}),i+1) AS cid))"
            )
            # array_min is O(C) per row where the sort is O(C log C); both
            # order structs lexicographically, i.e. by (d2, cid)
            picks.append(
                f"array(array_min({cands}).cid)"
                if n == 1
                else f"transform(slice(array_sort({cands}),1,{n}),s->s.cid)"
            )
            off += len(cids)
        # a NULL vector gets no cell: array(array_min(NULL).cid) would be
        # a one-element array holding NULL, not NULL
        pick = f"IF({raw} IS NULL,NULL,concat({','.join(picks)}))"
    udf = F.pandas_udf(kernel, T.ArrayType(T.DoubleType())).asNondeterministic()
    return (
        df.withColumn(raw, udf(F.col(vec).cast("array<double>")))
        .withColumn(out, F.expr(pick))
        .drop(raw)
    )


def kmeans_init(
    emb: DataFrame, k: int, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """Deterministic seeds: the k non-NULL vectors with the smallest
    portable hash of their id (a reproducible pseudo-random sample)."""
    seeds = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("sid"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
            portable_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "sid")
        .limit(k)
    )
    w_rows = seeds.collect()
    return local_frame(
        emb.sparkSession,
        [(i, list(r.cvec)) for i, r in enumerate(w_rows)],
        "cid long, cvec array<double>",
    )


def assign_cells(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Nearest-centroid assignment DataFrame[id, vec, cid], by
    (round(d2, 12), cid) — deterministic ties; a NULL vector gets a
    NULL cid."""
    cents = {(0, r.cid): r.cvec for r in centroids.select("cid", "cvec").collect()}
    vecs = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    cid = F.col("cids")[0].cast(centroids.schema["cid"].dataType)
    return _nearest(vecs, "vec", cents, 12).select("id", "vec", cid.alias("cid"))


def _lloyd(
    emb: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    round_to: int | None,
    m: int = 1,
    dim: int | None = None,
) -> dict:
    """Fixed-iteration Lloyd's on ``m`` subspaces at once
    (:func:`kmeans_fit` is m=1; ``pq_train_codebooks`` runs its m chains
    fused, one blocking round-trip per iteration for all of them).
    Subspace j starts from the :func:`kmeans_init` vectors' j-th slice,
    and a centroid with no members keeps its previous position.
    Returns ``{(j, cid): cvec}``."""
    seeds = [r.cvec for r in kmeans_init(emb, k, id_col, vec_col).collect()]
    if not seeds:
        return {}
    sub = (dim or len(seeds[0])) // m
    cents = {
        (j, cid): v[j * sub : (j + 1) * sub]
        for j in range(m)
        for cid, v in enumerate(seeds)
    }
    vecs = emb.select(F.col(vec_col).cast("array<double>").alias("vec"))
    m_expr = F.avg("val") if round_to is None else F.round(F.avg("val"), round_to)
    for _ in range(n_iter):
        # ONE per-(subspace, centroid, dimension) mean aggregate,
        # assembled into centroid vectors driver-side (m*k*sub rows)
        means = (
            _nearest(vecs, "vec", cents, 12)
            .select("cids", F.posexplode("vec").alias("p", "val"))
            .groupBy(
                F.expr(f"p DIV {sub}").alias("j"),
                F.expr(f"cids[p DIV {sub}]").alias("cid"),
                F.expr(f"p % {sub}").alias("pos"),
            )
            .agg(m_expr.alias("m"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            acc.setdefault((r.j, r.cid), {})[r.pos] = r.m
        for key, d in acc.items():
            cents[key] = [d[i] for i in range(sub)]
    return cents


def kmeans_fit(
    emb: DataFrame,
    k: int,
    n_iter: int = 10,
    id_col: str = "id",
    vec_col: str = "vec",
    round_to: int | None = None,
) -> DataFrame:
    """Fixed-iteration Lloyd's. Returns DataFrame[cid, cvec] (a centroid
    with no members keeps its previous position).

    ``round_to``: optionally round each updated centroid coordinate to
    this many decimals per iteration. Lloyd's means are
    order-of-summation sensitive in the last ulp (partial aggregation
    order is nondeterministic), so rounding pins the centroids to
    values any engine reproduces exactly — what makes the trained
    quantizer DuckDB-oracle-checkable (driver query
    ``ann_ivf_kmeans_top1`` uses round_to=9)."""
    cents = _lloyd(emb, k, n_iter, id_col, vec_col, round_to)
    return local_frame(
        emb.sparkSession,
        [(cid, v) for (_, cid), v in sorted(cents.items())],
        "cid long, cvec array<double>",
    )
