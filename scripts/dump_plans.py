#!/usr/bin/env python
"""Dump .explain('formatted') for headline queries into plans/r06/.

Usage: python scripts/dump_plans.py before|after [query ...]

Writes plans/r06/<query>_<tag>.txt for each named query (default: the
bench.py headline list). The kg_pipeline entry dumps the edge-table plan
of the full KG-construction DAG.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE_QUERIES, SF_DIR  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE_QUERIES + ["kg_pipeline"]
    import __spark_entry__ as entrymod
    from ontoea_spark.session import get_spark

    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    entrymod._ensure_shipped(spark)
    qs = entrymod.queries()
    for name in names:
        if name == "kg_pipeline":
            from ontoea_spark.pipeline.kg_build import build_kg
            from ontoea_spark.pipeline.pages import synthesize_pages

            pages = synthesize_pages(
                spark.read.parquet(f"{SF_DIR}/documents.parquet")
            )
            df = build_kg(pages).edges
        else:
            df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
