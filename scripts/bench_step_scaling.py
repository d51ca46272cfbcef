"""Per-step traffic/wall vs n_ent at FIXED batch: with touched-row slice
shipping, a distributed E2 step moves O(batch·neg_per_pos·dim) bytes, so
its shipped slice must stay flat as the entity count grows 16x, where a
full-matrix broadcast would grow linearly with n_ent·dim (and is simply
impossible at web-scale entity counts).

Method: synthetic uniform edge sets over n_ent ∈ {100k, 400k, 1.6M}
(dim 32, batch 8192, neg_per_pos 10 ⇒ ≤ 180k touched refs/step), same
SparkSession, N_STEPS timed ``OntoEATrainer._hash_step`` calls each
(first call per size discarded as warmup) — the step fit() runs under
gradient_mode='spark'. Reports median step wall, the shipped slice rows,
and the full-matrix rows a dense broadcast would ship.

STEP_SCALING_MODE picks the entity-weight side the step runs over:
'slice' — driver arrays; the step's wall includes the driver's Adagrad
+ row renorm over the full matrix (O(n_ent·dim) driver CPU, no traffic).
'store' — a SparkEntStore built with distributed_init (the driver never
allocates n_ent·dim): no O(n_ent) driver or broadcast term at all, but
the store update is a distributed scan+rewrite of the touched buckets,
so step wall grows with n_ent / cluster-size.

Usage:  python scripts/bench_step_scaling.py   [prints one JSON line]
Env:    STEP_SCALING_SIZES (comma ints), STEP_SCALING_STEPS,
        STEP_SCALING_CPUS, STEP_SCALING_MODE (slice|store),
        STEP_SCALING_DIM (default 32; 300 = the reference width)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import numpy as np

    import __spark_entry__ as entrymod
    from ontoea_spark.session import get_spark
    from ontoea_spark.training.trainer import OntoEATrainer, TrainConfig

    sizes = [
        int(s)
        for s in os.environ.get("STEP_SCALING_SIZES", "100000,400000,1600000").split(",")
    ]
    n_steps = int(os.environ.get("STEP_SCALING_STEPS", "5"))
    cpus = os.environ.get("STEP_SCALING_CPUS", "16")
    mode = os.environ.get("STEP_SCALING_MODE", "slice")
    batch, n_rel = 8192, 64
    dim = int(os.environ.get("STEP_SCALING_DIM", "32"))

    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark("bench-step-scaling", master=f"local[{cpus}]")
    entrymod._ensure_shipped(spark)
    cfg = TrainConfig(dim=dim, seed=7)  # neg_per_pos default 10
    rng = np.random.default_rng(7)

    rows = []
    for n_ent in sizes:
        store = None
        if mode == "store":
            from ontoea_spark.training.paramstore import SparkEntStore

            store = SparkEntStore.distributed_init(
                spark, n_ent, dim, lr=cfg.lr, seed=7
            )
        model = OntoEATrainer(n_ent, n_rel, 1, cfg, ent_store=store)
        import pandas as pd

        mb = pd.DataFrame(
            {
                "h": rng.integers(n_ent, size=batch),
                "r": rng.integers(n_rel, size=batch),
                "t": rng.integers(n_ent, size=batch),
            }
        )
        edges = spark.createDataFrame(mb).repartition(int(cpus)).localCheckpoint(
            eager=True
        )
        walls = []
        slice_rows = 0
        for step in range(n_steps + 1):
            stats = {}
            t0 = time.perf_counter()
            model._hash_step(edges, salt=step, stats=stats)
            w = time.perf_counter() - t0
            if step > 0:  # step 0 = warmup (codegen, first shuffle)
                walls.append(w)
                slice_rows = stats["slice_ent_rows"]
        walls.sort()
        rows.append(
            {
                "n_ent": n_ent,
                "step_wall_median_s": round(walls[len(walls) // 2], 3),
                "step_wall_min_s": round(walls[0], 3),
                "slice_ent_rows": slice_rows,
                "slice_mb": round(slice_rows * dim * 8 / 1e6, 1),
                "full_matrix_mb": round(n_ent * dim * 8 / 1e6, 1),
            }
        )
        print(f"[step-scaling] {rows[-1]}", flush=True)

    out = {
        "bench": "step_scaling",
        "mode": mode,
        "batch": batch,
        "dim": dim,
        "neg_per_pos": cfg.neg_per_pos,
        "cores": cpus,
        "sizes": rows,
        "wall_ratio_last_vs_first": round(
            rows[-1]["step_wall_median_s"] / rows[0]["step_wall_median_s"], 2
        ),
        "n_ent_ratio_last_vs_first": round(rows[-1]["n_ent"] / rows[0]["n_ent"], 1),
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
