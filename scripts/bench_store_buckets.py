#!/usr/bin/env python
"""Measure the bucketed SparkEntStore update: step wall vs TOUCHED
BUCKET COUNT at fixed n_ent (VERDICT r5 next-round #2 'done' criterion:
store-tier step wall tracks touched-partition count, not n_ent).

Same touched-row count per step; only the id LOCALITY varies — ids are
drawn from 1, 2, 4, 8 or all 16 range buckets. The r5 store rewrote the
whole (idx, w, g2) frame regardless, so its step wall was flat in
locality and O(n_ent) always.

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_store_buckets.py [n_ent] [dim]
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_ent = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    touched = 20_000

    import __spark_entry__ as entrymod
    from ontoea_spark.session import get_spark
    from ontoea_spark.training.paramstore import STORE_N_BUCKETS, SparkEntStore

    spark = get_spark("bench-store-buckets")
    entrymod._ensure_shipped(spark)
    t0 = time.perf_counter()
    store = SparkEntStore.distributed_init(spark, n_ent, dim, lr=0.1)
    print(f"init n_ent={n_ent} dim={dim}: {time.perf_counter() - t0:.2f}s")

    bw = store._bw
    rng = np.random.default_rng(42)
    grad = rng.normal(size=(touched, dim))
    for n_buckets_touched in (1, 2, 4, 8, STORE_N_BUCKETS):
        # ids confined to the first n_buckets_touched range buckets
        span = bw * n_buckets_touched
        ids = np.unique(rng.integers(0, min(span, n_ent), size=touched * 2))[
            :touched
        ]
        g = grad[: len(ids)]
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            store.apply(ids, g)
            samples.append(time.perf_counter() - t0)
        samples.sort()
        print(
            f"touched_buckets={n_buckets_touched:2d} touched_ids={len(ids)} "
            f"step_wall median={samples[1]:.3f}s min={samples[0]:.3f}s "
            f"max={samples[-1]:.3f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
