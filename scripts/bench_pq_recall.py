"""Measure the IVF-PQ tier instead of guessing: within-cell ranking
fidelity (does ADC over m codes pick the same neighbor exact L2 picks
among the SAME candidates?), end-to-end recall@1 vs the global exact
top-1 (folds in the coarse quantizer's nprobe=1 loss, comparable to the
ann_recall IVF number), the storage compression factor, and walls.

Within-cell fidelity isolates PQ quantization error from coarse-cell
loss: an IVF-PQ deployment tunes m/k against THIS number (the cell loss
is the IVF knob, already measured by q_ann_recall). Runs several (m, k)
points including the residual (faithful IVFADC) variant.

Protocol matches q_ann_ivfpq_top1: embeddings table, even ids = queries,
odd ids = corpus, every-50th vector as coarse centroids, dim 64.

Usage: python scripts/bench_pq_recall.py
  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS   (default 16)
Prints one JSON line; numbers recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ontoea_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("bench_pq_recall", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from ontoea_spark.operators.kmeans import _nearest
    from ontoea_spark.operators.pq import (
        ivfpq_topk_join,
        pq_train_codebooks,
        residualize,
    )

    dim = 64
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).localCheckpoint(eager=True)
    cents = (
        pts.filter(F.col("id") % 50 == 0)
        .select(F.col("id").alias("cid"), F.col("vec").alias("cvec"))
        .localCheckpoint(eager=True)
    )
    left = pts.filter(F.col("id") % 2 == 0)
    right = pts.filter(F.col("id") % 2 == 1)
    n_queries = left.count()
    n_corpus = right.count()

    # cells, as ivfpq_topk_join assigns them (round(d2,9), cid-asc ties)
    cent_rows = {(0, r.cid): r.cvec for r in cents.collect()}

    def cell_of(df):
        return _nearest(df, "vec", cent_rows, 9).select(
            "id", F.col("cids")[0].alias("cell")
        )

    # reference: exact squared L2 as an interpreted left fold
    def exact_d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    lcell = cell_of(left)
    rcell = cell_of(right)

    # exact L2 top-1 WITHIN the query's cell — the candidate set IVF-PQ
    # actually ranks; fidelity = does ADC agree with exact on it?
    from pyspark.sql import Window

    in_cell = (
        left.join(lcell, "id")
        .select(F.col("id").alias("lid"), F.col("vec").alias("lvec"), "cell")
        .join(
            right.join(rcell, "id").select(
                F.col("id").alias("rid"), F.col("vec").alias("rvec"), "cell"
            ),
            "cell",
        )
        .withColumn("d2", F.round(exact_d2("lvec", "rvec"), 9))
    )
    w = Window.partitionBy("lid").orderBy(F.col("d2").asc(), F.col("rid").asc())
    t0 = time.perf_counter()
    exact_cell = (
        in_cell.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lid", F.col("rid").alias("cell_exact_rid"))
        .localCheckpoint(eager=True)
    )
    wall_exact_cell = round(time.perf_counter() - t0, 3)

    # global exact L2 top-1 (no cell restriction) for end-to-end recall
    allp = left.select(
        F.col("id").alias("lid"), F.col("vec").alias("lvec")
    ).crossJoin(
        right.select(F.col("id").alias("rid"), F.col("vec").alias("rvec"))
    ).withColumn("d2", F.round(exact_d2("lvec", "rvec"), 9))
    t0 = time.perf_counter()
    exact_glob = (
        allp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lid", F.col("rid").alias("glob_exact_rid"))
        .localCheckpoint(eager=True)
    )
    wall_exact_global = round(time.perf_counter() - t0, 3)

    results = []
    for m, k_codes, residual, nprobe in (
        (4, 4, False, 1),   # q_ann_ivfpq_top1's oracled config
        (8, 16, False, 1),  # 4 bits x 8 subspaces = 4 B/vec
        (8, 16, True, 1),   # faithful IVFADC at the same budget
        (8, 16, False, 4),  # the recall knob on the PQ tier
    ):
        if residual:
            train = residualize(pts, cell_of(pts), cents)
        else:
            train = pts
        t0 = time.perf_counter()
        books = pq_train_codebooks(train, m=m, k=k_codes, dim=dim, n_iter=2)
        books = books.localCheckpoint(eager=True)
        wall_train = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        top1 = ivfpq_topk_join(
            left,
            right,
            cents,
            books,
            k=1,
            m=m,
            dim=dim,
            residual=residual,
            nprobe=nprobe,
        ).localCheckpoint(eager=True)
        wall_search = round(time.perf_counter() - t0, 3)
        agg = (
            exact_cell.join(exact_glob, "lid")
            .join(top1, "lid", "left")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("rid") == F.col("cell_exact_rid"), 1).otherwise(0)
                ).alias("cell_match"),
                F.sum(
                    F.when(F.col("rid") == F.col("glob_exact_rid"), 1).otherwise(0)
                ).alias("glob_match"),
            )
            .first()
        )
        code_bytes = n_corpus * m * (1 if k_codes <= 256 else 2)
        raw_bytes = n_corpus * dim * 8
        results.append(
            {
                "m": m,
                "k": k_codes,
                "residual": residual,
                "nprobe": nprobe,
                # fidelity is defined vs the SAME candidate set, i.e.
                # only meaningful at nprobe=1 (the exact arm probes one
                # cell); multi-probe rows report recall only
                "within_cell_fidelity": (
                    round(agg["cell_match"] / agg["n"], 4) if nprobe == 1 else None
                ),
                "recall_vs_global_exact": round(agg["glob_match"] / agg["n"], 4),
                "compression_x": round(raw_bytes / code_bytes, 1),
                "wall_train_s": wall_train,
                "wall_search_s": wall_search,
            }
        )

    print(
        json.dumps(
            {
                "metric": "ivfpq_recall_and_compression",
                "sf_dir": sf_dir,
                "n_queries": n_queries,
                "n_corpus": n_corpus,
                "wall_exact_in_cell_s": wall_exact_cell,
                "wall_exact_global_s": wall_exact_global,
                "configs": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
