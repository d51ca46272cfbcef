#!/usr/bin/env python
"""Measure IVF-PQ recall on CLUSTERED vectors (VERDICT r5 next #6):
BASELINE.md argues iid Gaussian is PQ's worst case and residual PQ wins
on clustered corpora — this script proves/refutes it with a mixture of
Gaussians at the same compression, instead of asserting it.

Setup (all deterministic, seeded NumPy): corpus+queries drawn from a
C-component Gaussian mixture (centers ~ N(0, I), points = center +
sigma*N(0, I)); coarse centroids = the true mixture centers (the
favourable-coarse-quantizer regime where residual energy << vector
energy — exactly where IVFADC's residual coding pays); codebooks
trained by the same deterministic Lloyd's in raw and residual modes;
recall@1 against the exact L2 top-1 over the whole corpus. The iid
Gaussian case (sigma -> infinity analogue: pure N(0, I), centers at 0)
runs alongside as the control.

Usage: SPARK_GRAFT_CPUS=16 python scripts/bench_pq_clustered.py
Prints one JSON line; numbers recorded in BASELINE.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    import __spark_entry__ as entrymod
    from ontoea_spark.session import get_spark
    from ontoea_spark.operators.kmeans import _nearest
    from ontoea_spark.operators.pq import (
        ivfpq_topk_join,
        pq_train_codebooks,
        residualize,
    )
    from pyspark.sql import functions as F

    spark = get_spark("bench-pq-clustered")
    entrymod._ensure_shipped(spark)

    dim, n, n_q, C, sigma = 64, 4000, 500, 25, 0.3
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(C, dim))

    def mixture(count, rng):
        comp = rng.integers(0, C, size=count)
        return centers[comp] + sigma * rng.normal(size=(count, dim))

    datasets = {
        "clustered": (
            mixture(n, np.random.default_rng(11)),
            mixture(n_q, np.random.default_rng(13)),
            centers,
        ),
        "iid": (
            np.random.default_rng(11).normal(size=(n, dim)),
            np.random.default_rng(13).normal(size=(n_q, dim)),
            # iid has no true centers; use a deterministic sample of the
            # corpus as the coarse quantizer (the q_ann_ivfpq protocol)
            None,
        ),
    }
    out = {}
    for name, (corpus, queries, cents_np) in datasets.items():
        if cents_np is None:
            cents_np = corpus[::  n // C][:C]
        corpus_df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(corpus)],
            "id long, vec array<double>",
        ).localCheckpoint(eager=True)
        query_df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(queries)],
            "id long, vec array<double>",
        ).localCheckpoint(eager=True)
        cents_df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(cents_np)],
            "cid long, cvec array<double>",
        )
        cent_rows = {(0, i): v.tolist() for i, v in enumerate(cents_np)}
        # exact global top-1 by L2 (NumPy — ground truth)
        d2 = (
            (queries**2).sum(1)[:, None]
            + (corpus**2).sum(1)[None, :]
            - 2.0 * queries @ corpus.T
        )
        exact_top1 = d2.argmin(axis=1)

        for m, k in ((4, 4), (4, 16), (16, 16)):
            for residual in (False, True):
                t0 = time.perf_counter()
                if residual:
                    cells = _nearest(corpus_df, "vec", cent_rows, 9).select(
                        "id", F.col("cids")[0].alias("cell")
                    )
                    train = residualize(corpus_df, cells, cents_df)
                else:
                    train = corpus_df
                books = pq_train_codebooks(train, m=m, k=k, dim=dim, n_iter=2)
                top1 = ivfpq_topk_join(
                    query_df, corpus_df, cents_df, books,
                    k=1, m=m, dim=dim, residual=residual, nprobe=1,
                ).collect()
                got = {r["lid"]: r["rid"] for r in top1}
                hits = sum(
                    1 for q in range(n_q) if got.get(q) == exact_top1[q]
                )
                key = f"{name}_m{m}k{k}_{'res' if residual else 'raw'}"
                out[key] = {
                    "recall_at_1": round(hits / n_q, 4),
                    "answered": len(got),
                    "wall_s": round(time.perf_counter() - t0, 1),
                }
                print(key, out[key], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
