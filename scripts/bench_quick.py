#!/usr/bin/env python
"""Quick per-query timing loop for optimization work (bench.py is frozen
for the driver; this mirrors its methodology — noop sink, median of N,
cold-fixture resets — for an arbitrary subset of queries).

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_quick.py [--runs N] [name ...]
Names: any queries() entry, plus "kg_pipeline" and "scaling" pseudo-queries.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import COLD_FIXTURE, SF_DIR, run_pipeline_once, scaling_job  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "--runs":
        runs = int(args[1])
        args = args[2:]
    import __spark_entry__ as entrymod
    from ontoea_spark import driver_queries as DQ
    from ontoea_spark.session import get_spark

    spark = get_spark("bench-quick")
    entrymod._ensure_shipped(spark)
    qs = entrymod.queries()
    out = {}
    for name in args:
        samples = []
        for _ in range(runs):
            if name in COLD_FIXTURE:
                DQ.reset_memo(COLD_FIXTURE[name])
            spark.sparkContext.setJobDescription(f"bench_quick:{name}")
            t0 = time.perf_counter()
            if name == "kg_pipeline":
                run_pipeline_once(spark, SF_DIR)
            elif name == "scaling":
                secs, n = scaling_job(spark, SF_DIR, replicate=80)
                samples.append(secs)
                out.setdefault("_scaling_tput", []).append(round(n / secs, 1))
                continue
            else:
                df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        out[name] = {
            "median": round(samples[len(samples) // 2], 3),
            "min": round(samples[0], 3),
            "max": round(samples[-1], 3),
        }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
