"""Measure what the materialized canonical layout buys: the standing
graph-consumer workloads (degree aggregate, vertex-attribute join) over
the SAME edge/vertex data stored (a) as plain parquet and (b) as the
bucketed+sorted tables ``pipeline.canonicalize.materialize_canonical``
writes.

The bucketed layout removes the Exchange from both plans (asserted in
tests/test_canonicalize.py); this script puts a wall-clock number on it
at a size where the shuffle actually costs something, plus the one-time
clustered-write premium the layout charges. Run:

    python scripts/bench_canonical_tables.py [n_edges] [n_buckets]

Prints one JSON line. Synthetic zipf-ish edges: hub subjects make the
degree aggregate's shuffle carry real skewed traffic, the shape a crawl
graph has.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ontoea_spark.session import get_spark


def _timed(fn, runs: int = 3) -> float:
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return walls[len(walls) // 2]


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_verts = max(n_edges // 16, 1)

    spark = get_spark("bench-canonical-tables", master="local[*]", shuffle_partitions=n_buckets)

    # hub-skewed subjects: id^2 / n keeps ~sqrt-density at the low end
    edges = spark.range(n_edges).select(
        ((F.col("id") * F.col("id")) % n_verts).alias("s_id"),
        (F.col("id") % 64).alias("p_id"),
        ((F.col("id") * 31 + 7) % n_verts).alias("o_id"),
    )
    verts = spark.range(n_verts).select(
        F.col("id"),
        F.concat(F.lit("e"), F.col("id")).alias("uri"),
        (F.col("id") % 1000).alias("freq"),
    )

    base = tempfile.mkdtemp(prefix="bench_canon_tables_")
    out: dict = {
        "metric": "canonical_table_layout",
        "n_edges": n_edges,
        "n_buckets": n_buckets,
        "unit": "sec",
    }
    try:
        t0 = time.perf_counter()
        edges.write.mode("overwrite").parquet(f"{base}/edges_plain")
        verts.write.mode("overwrite").parquet(f"{base}/verts_plain")
        out["write_plain"] = round(time.perf_counter() - t0, 3)

        from ontoea_spark.pipeline.canonicalize import materialize_canonical

        t0 = time.perf_counter()
        names = materialize_canonical(
            edges, verts, f"{base}/tables", "bench_canon", n_buckets
        )
        out["write_bucketed"] = round(time.perf_counter() - t0, 3)

        ep = spark.read.parquet(f"{base}/edges_plain")
        vp = spark.read.parquet(f"{base}/verts_plain")
        eb = spark.table(names["edges"])
        vb = spark.table(names["vertices"])

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def degree(e):
            return lambda: e.groupBy("s_id").agg(
                F.count("*").alias("deg")
            ).agg(F.sum("deg"), F.max("deg")).collect()

        def vjoin(v, e):
            return lambda: v.join(e, v.id == e.s_id).agg(
                F.sum("freq"), F.count("*")
            ).collect()

        out["queries"] = {
            "degree_plain": round(_timed(degree(ep)), 3),
            "degree_bucketed": round(_timed(degree(eb)), 3),
            "vjoin_plain": round(_timed(vjoin(vp, ep)), 3),
            "vjoin_bucketed": round(_timed(vjoin(vb, eb)), 3),
        }
        q = out["queries"]
        out["speedup"] = {
            "degree": round(q["degree_plain"] / q["degree_bucketed"], 2),
            "vjoin": round(q["vjoin_plain"] / q["vjoin_bucketed"], 2),
        }
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
