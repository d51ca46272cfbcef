"""Measure incremental canonicalization against the full rebuild it
replaces: fold a small (triples, links) delta into a large canonical
graph via ``ingest_canonical_batch`` and time it next to re-running the
whole rewrite over (base ∪ delta).

    python scripts/bench_incremental_canonical.py [n_base] [n_delta]

Prints one JSON line. The point at scale: rebuild cost grows with the
corpus, ingest cost with the batch — the ratio should widen linearly
with n_base/n_delta (modulo fixed job overhead, which dominates at
small sizes and makes these LOCAL numbers a floor on the win).
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
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 40_000
    n_ent = max(n_base // 4, 1)

    spark = get_spark("bench-incremental-canonical", master="local[*]", shuffle_partitions=32)

    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        ingest_canonical_batch,
        rewrite_triples,
    )

    def uri(col):
        return F.concat(F.lit("kg1:e"), col.cast("string"))

    base_t = spark.range(n_base).select(
        uri(F.col("id") % n_ent).alias("s"),
        F.concat(F.lit("p"), (F.col("id") % 16).cast("string")).alias("p"),
        uri((F.col("id") * 31 + 7) % n_ent).alias("o"),
    )
    # base links merge 1% of entities pairwise
    base_l = spark.range(n_ent // 100).select(
        uri(F.col("id") * 2).alias("e1"), uri(F.col("id") * 2 + 1).alias("e2")
    )
    base_map = canonical_entity_map(base_l).localCheckpoint(eager=True)
    base_canon = rewrite_triples(base_t, base_map).localCheckpoint(eager=True)
    n_canon = base_canon.count()

    delta_t = spark.range(n_delta).select(
        uri((F.col("id") * 13) % n_ent).alias("s"),
        F.lit("pnew").alias("p"),
        F.concat(F.lit("kg2:n"), (F.col("id") % 1000).cast("string")).alias("o"),
    )
    delta_l = spark.range(200).select(
        F.concat(F.lit("kg2:n"), F.col("id").cast("string")).alias("e1"),
        uri(F.col("id") * 4 + 2).alias("e2"),
    )

    t0 = time.perf_counter()
    d = ingest_canonical_batch(base_canon, base_map, delta_t, delta_l)
    n_novel = d.novel_triples.count()
    n_retracted = d.retracted_triples.count()
    ingest_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    full_map = canonical_entity_map(base_l.unionByName(
        delta_l.select(F.col("e1"), F.col("e2"))
    ))
    full = rewrite_triples(base_t.unionByName(delta_t), full_map)
    n_full = full.count()
    rebuild_s = time.perf_counter() - t0

    print(json.dumps({
        "metric": "incremental_canonical_vs_rebuild",
        "n_base_triples": n_base,
        "n_delta_triples": n_delta,
        "n_canonical": n_canon,
        "novel": n_novel,
        "retracted": n_retracted,
        "rebuild_rows": n_full,
        "ingest_sec": round(ingest_s, 3),
        "rebuild_sec": round(rebuild_s, 3),
        "speedup": round(rebuild_s / ingest_s, 2),
        "unit": "sec",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
