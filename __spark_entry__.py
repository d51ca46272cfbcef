"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the ``ontoea_spark`` package (this file is the
thin driver-facing shim).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ontoea_spark import driver_queries  # noqa: E402


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (the local-mode analogue
    of ``spark-submit --py-files``). Without this, pandas-UDF closures that
    reference package modules fail to unpickle on workers whenever the
    driver process was started outside the repo directory."""
    if getattr(_ensure_shipped, "_done_for", None) is spark:
        return
    import tempfile

    from ontoea_spark.package_zip import versioned_zip

    spark.sparkContext.addPyFile(versioned_zip(tempfile.gettempdir()))
    _ensure_shipped._done_for = spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full KG-construction pipeline on sf0.001 —
    pages synthesis -> Arrow-UDF text extraction -> mention detection ->
    two-KG triple emission -> deterministic interleaved dictionary
    encoding -> edge table. Returns the edge DataFrame (s_id, p_id, o_id,
    kg)."""
    from ontoea_spark.pipeline.kg_build import build_kg
    from ontoea_spark.pipeline.pages import synthesize_pages

    _ensure_shipped(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = synthesize_pages(docs)
    result = build_kg(pages)
    return result.edges


def _wrap_shipping(fn: Callable) -> Callable:
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    inner.__doc__ = fn.__doc__
    inner.__name__ = getattr(fn, "__name__", "query")
    return inner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {k: _wrap_shipping(v) for k, v in driver_queries.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (same column names/types)."""
    return driver_queries.oracle_sql()
