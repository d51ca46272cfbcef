"""100K-entity flagship alignment run (the reference's ontoea_args_100K
scale: code/run/args/ontoea_args_100K.json) — the order-of-magnitude-up
datapoint for BASELINE.md.

Everything in the run takes the at-scale path:

* benchmark: generate_two_kg(n_ent=100000, n_rel=60, n_triples=800000)
  — the 15K flagship's ~8 triples/entity density, vectorized sampler;
* training: gradient_mode='spark' (E2 gradients on executors in the
  hash-minibatched E2 step; driver applies Adagrad) with
  pool_mode='spark' (B7 refresh as a blocked top-k self-join — the
  n x n similarity never materializes on one machine) and pool_cap
  bounding the pool width;
* evaluation: evaluate_candidates (blocked_topk_join k_cand candidates
  + within-pool type rescoring + ranks_vs_gold_candidates) — no n1 x n2
  materialization anywhere in the run.

Usage:  python scripts/flagship_100k.py  [prints one JSON line]
Env:    FLAGSHIP_N_ENT / FLAGSHIP_EPOCHS / FLAGSHIP_BATCH / FLAGSHIP_CPUS
        / FLAGSHIP_DIM / FLAGSHIP_K_CAND / FLAGSHIP_PARAM_STORE
        (driver|spark — 'spark' keeps entity weights + Adagrad in a
        SparkEntStore DataFrame; nothing O(n_ent) driver-resident or
        broadcast during training) / FLAGSHIP_STORE_GATHER (1|0 — 0
        skips the final to_numpy gather, so eval too reads entity rows
        through the store and the driver never holds n_ent·dim at any
        point in the run)

The defaults (epochs 40, batch 32768, dim 32, local[16]) reproduce the
BASELINE.md 100K row exactly: batch 32768 ≈ 2.3% of the 1.44M edges —
the ratio whose quality curve was validated on the 5k mimic.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_ent = int(os.environ.get("FLAGSHIP_N_ENT", "100000"))
    epochs = int(os.environ.get("FLAGSHIP_EPOCHS", "40"))
    batch = int(os.environ.get("FLAGSHIP_BATCH", "32768"))
    cpus = os.environ.get("FLAGSHIP_CPUS", "16")
    k_cand = int(os.environ.get("FLAGSHIP_K_CAND", "50"))
    dim = int(os.environ.get("FLAGSHIP_DIM", "32"))
    param_store = os.environ.get("FLAGSHIP_PARAM_STORE", "driver")
    store_gather = os.environ.get("FLAGSHIP_STORE_GATHER", "1") == "1"

    import __spark_entry__ as entrymod
    from ontoea_spark.session import get_spark
    from ontoea_spark.training.align_pipeline import (
        evaluate_candidates,
        prepare_from_parts,
        train,
    )
    from ontoea_spark.training.benchgen import generate_two_kg
    from ontoea_spark.training.trainer import TrainConfig

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("flagship_100k", master=f"local[{cpus}]")
    entrymod._ensure_shipped(spark)

    t0 = time.time()
    b = generate_two_kg(
        spark,
        n_ent=n_ent,
        n_rel=60,
        n_triples=n_ent * 8,
        seed=42,
        vectorized=True,
    )
    data = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
    n_edges = data.edges.count()
    t1 = time.time()
    print(
        f"[flagship] prep done: n_ent={data.n_ent} n_rel={data.n_rel} "
        f"edges={n_edges} wall={t1 - t0:.1f}s",
        flush=True,
    )

    cfg = TrainConfig(
        dim=dim,
        epochs=epochs,
        batch_size=batch,
        seed=42,
        gradient_mode="spark",
        pool_mode="spark",
        pool_cap=128,
        eval_freq=10,
        param_store=param_store,
        store_final_gather=store_gather,
    )
    model = train(data, cfg)
    t2 = time.time()
    print(f"[flagship] train done: wall={t2 - t1:.1f}s", flush=True)

    m = evaluate_candidates(spark, data, model, k_cand=k_cand).collect()[0]
    t3 = time.time()
    out = {
        "run": "flagship_100k",
        "n_ent_per_kg": n_ent,
        "n_edges": n_edges,
        "dim": cfg.dim,
        "epochs": epochs,
        "batch_size": batch,
        "cores": cpus,
        "k_cand": k_cand,
        "param_store": param_store,
        "store_gather": store_gather,
        "prep_s": round(t1 - t0, 1),
        "train_s": round(t2 - t1, 1),
        "eval_s": round(t3 - t2, 1),
        "hits1": m.hits1,
        "hits5": m.hits5,
        "hits10": m.hits10,
        "mr": m.mr,
        "mrr": m.mrr,
        "steps": model.step_counts,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
