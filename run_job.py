#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster invocation (BASELINE.json north rule):

    python -m ontoea_spark.package_zip /tmp/ontoea_spark.zip   # build --py-files zip
    spark-submit --master <cluster> --py-files /tmp/ontoea_spark.zip \\
        run_job.py --input <pages parquet/iceberg path> \\
        --checkpoint-dir <dir> [--partitions 32]

Local sandbox equivalents run the same file with --master local[N].
Resumability: re-running with the same --checkpoint-dir skips every
completed stage (see pipeline/checkpoint.py); per-partition lineage
metrics land under <checkpoint-dir>/_metrics/.

The input is the Common-Crawl-style pages table
(url, warc_ts, html, text, lang). With --synth-from-documents the pages
are synthesized from a documents.parquet fixture instead (sandbox mode).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages table path")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument(
        "--synth-from-documents",
        action="store_true",
        help="input is a documents fixture; synthesize the pages table",
    )
    # optional OntoEA-style entity-alignment stage after the build — the
    # north rule's "entity linking + canonicalization" step as part of
    # the same spark-submit entry. Defaults take the at-scale paths:
    # distributed E2 gradients and the candidate-table evaluation (no
    # n1 x n2 anywhere); see scripts/flagship_100k.py for the measured
    # 100K-entity run of the same stack.
    ap.add_argument("--align", action="store_true")
    ap.add_argument("--align-epochs", type=int, default=40)
    ap.add_argument("--align-dim", type=int, default=32)
    ap.add_argument("--align-batch", type=int, default=2048)
    ap.add_argument(
        "--align-gradient-mode",
        default="spark",
        choices=["local", "local_hash", "spark"],
    )
    ap.add_argument("--align-k-cand", type=int, default=50)
    # canonicalization stage (north rule: "link and canonicalize entities
    # before materializing"): merges aligned entity clusters into one
    # canonical node and re-encodes with a unified dictionary, written as
    # resumable canonical_* stages under the same checkpoint dir. Merges
    # on the build's gold links, or — when --align also ran — on the
    # train seeds plus the model's predicted matches.
    ap.add_argument("--canonicalize", action="store_true")
    # crawl-provenance product table: every canonical (s,p,o) with its
    # distinct-page corroboration, mention count, and crawl-time window,
    # written partitioned by crawl DAY so the standing time-ranged reads
    # prune whole partition directories (sources/tables.py). Opt-in: it
    # costs a second mention-level pass over the build's pages_text
    # snapshot.
    ap.add_argument("--provenance", action="store_true")
    args = ap.parse_args(argv)
    if args.provenance and not args.canonicalize:
        ap.error("--provenance requires --canonicalize (it rewrites "
                 "mentions through the canonical map)")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ontoea-kg-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ontoea_spark.pipeline.checkpoint import run_pipeline_checkpointed

    pages = spark.read.parquet(args.input)
    if args.synth_from_documents:
        from ontoea_spark.pipeline.pages import synthesize_pages

        pages = synthesize_pages(pages)

    t0 = time.perf_counter()
    out = run_pipeline_checkpointed(
        spark, pages, args.checkpoint_dir, partitions=args.partitions
    )
    n_edges = out["edges"].count()
    secs = time.perf_counter() - t0
    result = {
        "edges": n_edges,
        "vertices": out["vertices"].count(),
        "links": out["links"].count(),
        "seconds": round(secs, 3),
        "triples_per_sec": round(n_edges / secs, 1),
    }
    merge_links = None  # None -> canonicalize on the build's gold links
    if args.align:
        from ontoea_spark.training.align_pipeline import (
            evaluate_candidates,
            predict_matches,
            prepare_from_build,
            seed_matches,
            train,
        )
        from ontoea_spark.training.trainer import TrainConfig

        t1 = time.perf_counter()
        data = prepare_from_build(spark, out["triples"], out["links"])
        cfg = TrainConfig(
            dim=args.align_dim,
            epochs=args.align_epochs,
            batch_size=args.align_batch,
            gradient_mode=args.align_gradient_mode,
            pool_mode="spark" if args.align_gradient_mode == "spark" else "local",
            seed=42,
        )
        model = train(data, cfg)
        # one candidate chain per split, shared by the metric
        # computation and (under --canonicalize) the match export —
        # without the cache the test-split blocked top-k runs twice
        reranked_cache: dict = {}
        m = evaluate_candidates(
            spark, data, model, k_cand=args.align_k_cand,
            reranked_cache=reranked_cache,
        ).collect()[0]
        result["align"] = {
            "n_ent": data.n_ent,
            "hits1": m.hits1,
            "hits10": m.hits10,
            "mrr": m.mrr,
            "seconds": round(time.perf_counter() - t1, 3),
        }
        if args.canonicalize:
            # known seeds merge directly; valid/test merge on the
            # model's fused-score argmax predictions. localCheckpoint
            # truncates the candidate-chain lineage (blocked top-k +
            # type fusion) so the component iteration downstream reads
            # |links| materialized rows instead of re-deriving the
            # whole prediction plan per round (OOMs a 1g driver)
            merge_links = (
                seed_matches(data)
                .unionByName(
                    predict_matches(
                        spark, data, model, k_cand=args.align_k_cand,
                        reranked_cache=reranked_cache,
                    )
                )
                .localCheckpoint(eager=True)
            )
    if args.canonicalize:
        from ontoea_spark.pipeline.checkpoint import (
            run_canonicalize_checkpointed,
        )

        t2 = time.perf_counter()
        canon = run_canonicalize_checkpointed(
            out, links=merge_links, partitions=args.partitions
        )
        from ontoea_spark.pipeline.canonicalize import materialize_canonical

        tables = materialize_canonical(
            canon["canonical_edges"],
            canon["canonical_vertices"],
            base_path=os.path.join(args.checkpoint_dir, "canonical_tables"),
            n_buckets=args.partitions,
        )
        result["canonical"] = {
            "edges": canon["canonical_edges"].count(),
            "vertices": canon["canonical_vertices"].count(),
            "merged_entities": canon["canonical_map"].count(),
            "link_source": "align" if merge_links is not None else "gold",
            "tables": tables,
            "seconds": round(time.perf_counter() - t2, 3),
        }
        if args.provenance:
            from ontoea_spark.pipeline.canonicalize import (
                canonical_triple_provenance,
            )
            from ontoea_spark.sources.tables import write_day_partitioned

            prov = canonical_triple_provenance(
                out["pages_text"], canon["canonical_map"], namespace_col="kg"
            )
            prov_path = os.path.join(
                args.checkpoint_dir, "canonical_tables", "provenance"
            )
            write_day_partitioned(prov, prov_path, ts_col="first_ts")
            result["canonical"]["provenance_path"] = prov_path
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
