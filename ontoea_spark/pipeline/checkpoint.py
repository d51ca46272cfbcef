"""Checkpoint-based resumability + per-partition lineage/metrics
(BASELINE.json north rule; SURVEY.md §2.13/§4 — the reference's closest
analogue is the HDF5 conflict-matrix cache, check.py:94-99).

Model: every pipeline stage materializes to parquet under
``<base>/<stage>/`` and appends a manifest entry
(``<base>/_manifest.json``) recording row count, schema, partition
count, and wall seconds. On re-run, a stage whose manifest entry exists
and whose parquet is readable is *skipped* — the DataFrame is reloaded
from the snapshot, so a killed job resumes at the first incomplete
stage. Manifest writes are atomic (tmp file + rename).

Lineage/metrics: :func:`with_partition_metrics` materializes a
per-partition row-count table for a stage (spark_partition_id groupBy —
one tiny shuffle over already-computed data);
:func:`drop_metrics` records rows dropped by inner-join dictionary
encoding (the reference drops silently, read.py:135-136 — we count).
Metrics land in ``<base>/_metrics/<stage>/`` as parquet.
"""

from __future__ import annotations

import json
import posixpath
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _HadoopFS:
    """Driver-side filesystem IO through the Hadoop FileSystem API, so
    manifest/_SUCCESS bookkeeping works against whatever scheme the
    checkpoint dir lives on (file://, hdfs://, s3a://, ...) — the same
    resolution ``df.write.parquet`` uses. Plain ``os`` calls here would
    silently break resume on any non-local base_dir (always-False
    is_complete + a literal local './hdfs:...' manifest directory)."""

    def __init__(self, spark: SparkSession, base: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.Path(base).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._path(p)))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._path(p))

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            charset = self._jvm.java.nio.charset.StandardCharsets.UTF_8
            return ioutils.toString(stream, charset)
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        tmp = p + ".tmp"
        stream = self._fs.create(self._path(tmp), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        # rename onto the final name (delete-then-rename: HDFS rename
        # does not overwrite)
        if self.exists(p):
            self._fs.delete(self._path(p), False)
        self._fs.rename(self._path(tmp), self._path(p))

    def listdir(self, p: str) -> list[str]:
        statuses = self._fs.listStatus(self._path(p))
        return [st.getPath().getName() for st in statuses]

    def is_dir(self, p: str) -> bool:
        return self.exists(p) and bool(self._fs.getFileStatus(self._path(p)).isDirectory())


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self.fs = _HadoopFS(spark, base_dir)
        self.fs.mkdirs(base_dir)
        self._manifest_path = posixpath.join(base_dir, "_manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        if self.fs.exists(self._manifest_path):
            return json.loads(self.fs.read_text(self._manifest_path))
        return {"stages": {}}

    def _write_manifest(self, m: dict) -> None:
        self.fs.write_text_atomic(
            self._manifest_path, json.dumps(m, indent=1, sort_keys=True)
        )

    def is_complete(self, stage: str) -> bool:
        entry = self.manifest()["stages"].get(stage)
        if not entry:
            return False
        return self.fs.exists(
            posixpath.join(self.base, stage, "_SUCCESS")
        )

    # -- stages -----------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return posixpath.join(self.base, stage)

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        partition_by: str | None = None,
        repartition: tuple[int, str] | None = None,
    ) -> DataFrame:
        """Compute-or-reload one stage. ``fn`` is only invoked when the
        stage has no completed snapshot (resume skips it entirely)."""
        path = self.stage_path(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = fn()
        if repartition is not None:
            n, key = repartition
            df = df.repartition(n, key)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        n_rows = out.count()
        self._record_partition_metrics(stage, out)
        m = self.manifest()
        m["stages"][stage] = {
            "rows": n_rows,
            "schema": out.schema.simpleString(),
            "seconds": round(time.perf_counter() - t0, 3),
            "completed_unix": int(time.time()),
        }
        self._write_manifest(m)
        return out

    # -- lineage / metrics --------------------------------------------------
    def _metrics_path(self, stage: str) -> str:
        return posixpath.join(self.base, "_metrics", stage)

    def _record_partition_metrics(self, stage: str, df: DataFrame) -> None:
        pm = (
            df.withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit(stage))
        )
        pm.write.mode("overwrite").parquet(self._metrics_path(stage))

    def record_drop_metrics(
        self, stage: str, rows_in: int, rows_out: int
    ) -> None:
        """Silent-filter accounting (P4/P5 inner-join drops)."""
        m = self.manifest()
        entry = m["stages"].setdefault(stage, {})
        entry["rows_in"] = rows_in
        entry["rows_out"] = rows_out
        entry["rows_dropped"] = rows_in - rows_out
        self._write_manifest(m)

    def partition_metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path(stage))

    def all_partition_metrics(self) -> DataFrame:
        base = posixpath.join(self.base, "_metrics")
        stages = [
            s for s in self.fs.listdir(base)
            if self.fs.is_dir(posixpath.join(base, s))
        ]
        dfs = [self.partition_metrics(s) for s in sorted(stages)]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    base_dir: str,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """The KG-construction DAG as resumable checkpointed stages:

        pages_text -> triples -> ent_ids/rel_ids -> edges -> vertices/links

    Each stage reloads from its snapshot on resume; edges are
    repartitioned by s_id and partitioned by kg at the sink (co-located
    adjacency scans downstream — the Iceberg-shaped layout).
    """
    from ontoea_spark.operators.dictionary import (
        combined_dictionary_frame,
        encode_triples_two_kg,
    )
    from ontoea_spark.pipeline.extract import extract_pages_text, extract_triples
    from ontoea_spark.pipeline.kg_build import gold_links, split_two_kgs

    cp = CheckpointManager(spark, base_dir)

    docs_text = cp.run_stage(
        "pages_text", lambda: split_two_kgs(extract_pages_text(pages))
    )
    triples = cp.run_stage(
        "triples",
        lambda: extract_triples(
            docs_text.filter(F.col("kg") == "kg1"), namespace_col="kg"
        )
        .withColumn("kgn", F.lit(1).cast("long"))
        .unionByName(
            extract_triples(
                docs_text.filter(F.col("kg") == "kg2"), namespace_col="kg"
            ).withColumn("kgn", F.lit(2).cast("long"))
        ),
    )
    t1 = triples.filter("kgn = 1").select("s", "p", "o")
    t2 = triples.filter("kgn = 2").select("s", "p", "o")
    # one pass over the triple snapshot builds BOTH dictionaries for
    # BOTH KGs; the ent/rel stages are then cheap filters of the snapshot
    dicts = cp.run_stage(
        "dictionaries",
        lambda: combined_dictionary_frame(triples, F.col("kgn")),
    )
    cols = ["kg", "elem", "freq", "rank", "id"]
    ent_ids = cp.run_stage(
        "ent_ids", lambda: dicts.filter("grp = 'ent'").select(*cols)
    )
    rel_ids = cp.run_stage(
        "rel_ids", lambda: dicts.filter("grp = 'rel'").select(*cols)
    )
    edges = cp.run_stage(
        "edges",
        lambda: encode_triples_two_kg(triples, ent_ids, rel_ids),
        partition_by="kg",
        repartition=(partitions, "s_id"),
    )
    if "rows_dropped" not in cp.manifest()["stages"].get("edges", {}):
        cp.record_drop_metrics(
            "edges", rows_in=triples.count(), rows_out=edges.count()
        )
    vertices = cp.run_stage(
        "vertices",
        lambda: ent_ids.select(
            "id", F.col("elem").alias("uri"), "kg", "freq"
        ),
        partition_by="kg",
    )
    links = cp.run_stage("links", lambda: gold_links(t1, t2))
    return {
        "pages_text": docs_text,
        "triples": triples,
        "ent_ids": ent_ids,
        "rel_ids": rel_ids,
        "edges": edges,
        "vertices": vertices,
        "links": links,
        "_manager": cp,
    }


def run_canonicalize_checkpointed(
    build: dict,
    links: DataFrame | None = None,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """Canonicalization (pipeline/canonicalize.py) as resumable stages on
    top of a completed :func:`run_pipeline_checkpointed` build:

        canonical_map -> canonical_triples -> canonical dictionaries
        -> canonical_edges (partitioned, s_id-repartitioned) /
           canonical_vertices

    ``links``: the (e1, e2) pair table to merge on — the build's own
    gold links by default, or predicted matches from the alignment
    stage (align_pipeline.predict_matches) plus train seeds. Each stage
    reloads from its snapshot on resume, so a killed canonicalization
    resumes without re-running the build OR the component iteration.

    Stage names carry a FINGERPRINT of the link set (row count + an
    order-independent content hash, one O(|links|) aggregate): a resume
    with the SAME links reloads snapshots, but re-running the same
    checkpoint dir with DIFFERENT links (e.g. gold first, then
    ``--align`` predictions) gets fresh stages instead of silently
    reusing a canonical graph built from the other link set.
    """
    from ontoea_spark.functions.hashing import portable_hash64
    from ontoea_spark.operators.dictionary import encode_triples, single_kg_ids
    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        rewrite_triples,
        vertex_provenance,
    )

    cp: CheckpointManager = build["_manager"]
    if links is None:
        links = build["links"]
    t = build["triples"].select("s", "p", "o")

    fp_row = links.agg(
        F.count("*").alias("n"),
        F.sum(portable_hash64(F.concat_ws("\t", "e1", "e2"))).alias("h"),
    ).first()
    fp = f"{fp_row['n']}_{(fp_row['h'] or 0) & 0xFFFFFFFFFFFF:x}"

    def _st(name: str) -> str:
        return f"{name}_{fp}"

    cmap = cp.run_stage(_st("canonical_map"), lambda: canonical_entity_map(links))
    canon = cp.run_stage(
        _st("canonical_triples"), lambda: rewrite_triples(t, cmap)
    )
    cent = cp.run_stage(_st("canonical_ent_ids"), lambda: single_kg_ids(canon))
    crel = cp.run_stage(
        _st("canonical_rel_ids"), lambda: single_kg_ids(canon, roles=("p",))
    )
    cedges = cp.run_stage(
        _st("canonical_edges"),
        lambda: encode_triples(canon, cent, crel),
        repartition=(partitions, "s_id"),
    )
    if "rows_dropped" not in cp.manifest()["stages"].get(
        _st("canonical_edges"), {}
    ):
        cp.record_drop_metrics(
            _st("canonical_edges"), rows_in=canon.count(), rows_out=cedges.count()
        )

    def _vertices() -> DataFrame:
        pre = (
            t.select(F.col("s").alias("entity"))
            .unionAll(t.select(F.col("o").alias("entity")))
            .distinct()
        )
        prov = vertex_provenance(pre, cmap)
        return (
            cent.select(F.col("id"), F.col("elem").alias("uri"), F.col("freq"))
            .join(prov, "uri")
            .select("id", "uri", "freq", "srcs")
        )

    cverts = cp.run_stage(_st("canonical_vertices"), _vertices)
    return {
        "canonical_map": cmap,
        "canonical_triples": canon,
        "canonical_ent_ids": cent,
        "canonical_rel_ids": crel,
        "canonical_edges": cedges,
        "canonical_vertices": cverts,
        "link_fingerprint": fp,
        "_stage_names": {
            n: _st(n)
            for n in (
                "canonical_map",
                "canonical_triples",
                "canonical_ent_ids",
                "canonical_rel_ids",
                "canonical_edges",
                "canonical_vertices",
            )
        },
        "_manager": cp,
    }
