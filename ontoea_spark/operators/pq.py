"""Product quantization (PQ) for ANN at memory scale — deterministic
end to end, composed with the IVF coarse quantizer into the classic
IVF-PQ (FAISS "IVFADC") search shape.

Why PQ at 100 TB: an exact corpus of 10^10 x dim-300 float64 vectors is
~24 TB of RAM-resident scan per query batch; PQ stores m small codes per
vector (here m codes into k-entry per-subspace codebooks — m*log2(k)
bits, a 100-1000x compression) and scores queries against codes with an
asymmetric distance computation (ADC): the query's exact subvectors
against the corpus's quantized cells, m table lookups + adds per
candidate instead of dim multiplies.

Residual encoding (the faithful FAISS IVFADC, codes quantizing
``v - coarse_centroid``) is available via ``residual=True`` on
:func:`ivfpq_topk_join` + :func:`residualize` for codebook training,
golden-tested against an independent NumPy transcription. The driver
query keeps ``residual=False`` (raw-vector codes) so the DuckDB oracle
replay stays independent of the coarse stage — a documented deviation
of the ORACLED configuration only, not of the operator surface.

Everything is deterministic and DuckDB-replayable: per-subspace
codebooks via the Lloyd's behind
:func:`ontoea_spark.operators.kmeans.kmeans_fit` (hash-seeded init,
fixed iterations, per-iteration ``round_to`` pinning), code assignment
argmin by (round(d2,12), cid), ADC from 9dp-rounded per-subspace lookup
entries summed in fixed subspace order.

Scale shape: codebooks are m*k rows (collected — they must broadcast
anyway); encoding is one per-row pass of the shared nearest-centroid
kernel; candidate generation is the IVF cell equi-join (never
all-pairs); ADC scoring joins candidates to ONE code-array row per
corpus vector and ONE lut-array row per query, then computes the
distance as a static m-term array-lookup sum — a pure whole-stage-codegen
projection with no per-(pair, subspace) shuffle (a pivot-based form
would shuffle candidates x m rows through a groupBy; the array form
shuffles only the linear-size code/LUT tables, once). Nothing
O(corpus) collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.operators.kmeans import _lloyd, _nearest
from ontoea_spark.session import local_frame


def subvectors(
    emb: DataFrame,
    m: int,
    dim: int,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """DataFrame[id, j, sv]: the vector split into ``m`` contiguous
    ``dim/m``-wide subspaces (j = 0..m-1). ``dim`` must divide evenly —
    mis-sliced subspaces would silently degrade recall, so raise."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub).alias(
                    "sv"
                ),
            )
            for j in range(m)
        ]
    )
    return emb.select(
        F.col(id_col).cast("long").alias("id"), F.explode(pairs).alias("p")
    ).select("id", F.col("p.j").alias("j"), F.col("p.sv").alias("sv"))


def pq_train_codebooks(
    emb: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iter: int = 2,
    id_col: str = "id",
    vec_col: str = "vec",
    round_to: int | None = 9,
) -> DataFrame:
    """Train one ``k``-entry codebook per subspace with the deterministic
    distributed Lloyd's. Returns DataFrame[j, cid, cvec] (m*k rows —
    driver-resident by necessity: every scoring step broadcasts it).

    All ``m`` chains run FUSED as one Lloyd's with centroids keyed (j,
    cid): one kernel pass + one means collect per iteration for every
    subspace together, instead of m sequential ``kmeans_fit`` loops (m x
    fewer blocking driver round-trips — the dominant cost of training,
    since per-job data is tiny). Bit-equal to the per-subspace loops:
    the hash-ordered seed ids are the same for every j (the hash keys
    the id, not the subspace), and assignment / mean rounding are
    per-(j, cid) exactly as in ``kmeans_fit`` — the NumPy goldens and
    the per-subspace oracle CTE chains pin this."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    cents = _lloyd(emb, k, n_iter, id_col, vec_col, round_to, m=m, dim=dim)
    return local_frame(
        emb.sparkSession,
        [(j, cid, v) for (j, cid), v in sorted(cents.items())],
        "j int, cid long, cvec array<double>",
    )


def residualize(
    df: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Replace each vector with its coarse residual ``v - centroid[cell]``
    (the FAISS IVFADC encoding input). ``cells``: DataFrame[id, cell];
    ``centroids``: DataFrame[cid, cvec] (broadcast — small by contract).
    Elementwise double subtraction — exact, engine-independent."""
    return (
        df.join(cells, df[id_col] == cells["id"], "inner")
        .drop(cells["id"])
        .join(F.broadcast(centroids), F.col("cell") == F.col("cid"))
        .select(
            F.col(id_col),
            F.zip_with(vec_col, "cvec", lambda a, b: a - b).alias(vec_col),
        )
    )


def ivfpq_topk_join(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    m: int,
    dim: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    round_to: int = 6,
    residual: bool = False,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ top-k: coarse centroid cells prune candidates (the IVF
    equi-join — identical cell assignment to
    :func:`ontoea_spark.operators.simjoin.ivf_topk_join`), then PQ ADC
    ranks survivors: the corpus side is represented ONLY by its m codes,
    the query side by its per-subspace lookup table against the
    codebooks. Returns DataFrame[lid, rid, adc_d2] (ascending distance
    top-k per lid, ties rid asc).

    ``nprobe``: the query probes its ``nprobe`` nearest cells (the same
    recall knob as :func:`~ontoea_spark.operators.simjoin.ivf_topk_join`
    — corpus rows stay in one cell, so (lid, rid) pairs never repeat).
    In raw mode the LUT is cell-independent and shared across probes;
    in residual mode the LUT is built PER PROBED CELL (FAISS semantics:
    the query residual subtracts the probed centroid, matching the
    candidate's encoding basis), so LUT cost scales with nprobe.

    ``residual=True`` is the faithful FAISS IVFADC: codes quantize the
    coarse residual ``v - centroid[cell]`` and the query LUT is built
    from the query's residual w.r.t. each probed cell. Pass codebooks
    trained on residualized input (:func:`residualize`) for a coherent
    quantizer.

    ADC determinism: each (query, subspace, code) lookup distance is
    rounded to 9dp; the m per-subspace terms are summed in fixed
    subspace order (a static left-to-right sum of array lookups, not an
    unordered SUM), and the total is rounded to ``round_to`` —
    bit-reproducible in any engine (the oracle's CASE-pivot sum adds
    the same 9dp values in the same j order).

    Plan shape: centroids and codebooks are collected once (both are
    driver-resident by contract — every scoring strategy broadcasts
    them); cell assignment, code assignment and the query LUT are
    per-row passes of the shared nearest-centroid kernel
    (:func:`ontoea_spark.operators.kmeans._nearest`), not join+groupBy
    chains. The whole search is one equi-join on ``cell`` plus the final
    top-k window; residual mode adds a broadcast equi-join on ``cell``
    per side for the exact elementwise ``v - centroid[cell]``.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    cents = {
        (0, int(r["cid"])): r["cvec"]
        for r in centroids.select("cid", "cvec").collect()
    }
    books = {
        (int(r["j"]), int(r["cid"])): r["cvec"]
        for r in codebooks.select("j", "cid", "cvec").collect()
    }
    k_codes = len({cid for _, cid in books})
    if sorted(books) != [(j, c) for j in range(m) for c in range(k_codes)]:
        raise ValueError("codebooks must cover j in [0,m) x cid in [0,k)")

    def side(df, id_col, vec_col, key, n_cells):
        return _nearest(
            df.select(
                F.col(id_col).cast("long").alias(key),
                F.col(vec_col).cast("array<double>").alias("vec"),
            ),
            "vec",
            cents,
            9,
            n_cells,
            "cells",
        )

    lq = side(left, left_id, left_vec, "lid", nprobe)
    rq = side(right, right_id, right_vec, "rid", 1)
    if residual:
        # corpus codes quantize v - centroid[cell]; the query LUT is
        # built PER PROBED CELL from the query's residual w.r.t. that
        # cell (FAISS IVFADC semantics)
        base = F.broadcast(
            local_frame(
                left.sparkSession,
                [(cid, v) for (_, cid), v in cents.items()],
                "cell long, cvec array<double>",
            )
        )
        resid = F.zip_with("vec", "cvec", lambda a, b: a - b).alias("vec")
        lq, rq = (
            q.select(key, F.explode("cells").alias("cell"), "vec")
            .join(base, "cell")
            .select(key, "cell", resid)
            for q, key in ((lq, "lid"), (rq, "rid"))
        )
        lq = _nearest(lq, "vec", books, 9, None, "lut")
    else:
        # raw-mode LUT is cell-independent: computed once per query row,
        # before the probe explode
        lq = _nearest(lq, "vec", books, 9, None, "lut").select(
            "lid", "lut", F.explode("cells").alias("cell")
        )
        rq = rq.select("rid", "vec", F.explode("cells").alias("cell"))
    rq = _nearest(rq, "vec", books, 12, 1, "codes")

    # fixed-subspace-order sum as a static projection: the 0-based lut
    # entry for (j, code) sits at j*k + code — no per-pair shuffle
    adc = F.expr(" + ".join(f"lut[{j * k_codes} + codes[{j}]]" for j in range(m)))
    scored = lq.join(rq, "cell").select(
        "lid", "rid", F.round(adc, round_to).alias("adc_d2")
    )
    w = Window.partitionBy("lid").orderBy(F.col("adc_d2").asc(), F.col("rid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
