"""Checkpoint-based resumability + per-partition lineage/metrics
(BASELINE.json north rule; SURVEY.md §2.13/§4 — the reference's closest
analogue is the HDF5 conflict-matrix cache, check.py:94-99).

This module is stage bookkeeping only. The DAGs are ``build_kg`` and
``canonicalize_kg``; :func:`run_pipeline_checkpointed` and
:func:`run_canonicalize_checkpointed` run them with
:meth:`CheckpointManager.run_stage` as their stage runner.

Model: every pipeline stage materializes to parquet under
``<base>/<stage>/`` and appends a manifest entry
(``<base>/_manifest.json``) recording row count, schema, and wall
seconds. On re-run, a stage whose manifest entry exists and whose
parquet is readable is *skipped* — the DataFrame is reloaded from the
snapshot, so a killed job resumes at the first incomplete stage.
Manifest writes are atomic (tmp file + rename).

Failure policy of the build and canonicalization DAG: consumers read
each stage's parquet snapshot, so a lost executor or block recomputes
from the last completed snapshot at most, and a killed job resumes at
the first incomplete stage. The plain ``build_kg`` / ``canonicalize_kg``
(runner ``session.in_memory``) keep shared stages as ``localCheckpoint``
blocks: a lost block fails the job and nothing resumes it. ``run_job.py``
runs the checkpointed runners, the build's reliable path.

Lineage/metrics: each completed stage also writes a per-partition
row-count table (spark_partition_id groupBy — one tiny shuffle over the
snapshot) to ``<base>/_metrics/<stage>/``;
:meth:`CheckpointManager.record_drop_metrics` records the rows an
inner-join dictionary encode dropped (the reference drops silently,
read.py:135-136 — we count), from the manifest's row counts.
"""

from __future__ import annotations

import json
import posixpath
import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import portable_hash64
from ontoea_spark.pipeline.canonicalize import canonicalize_kg
from ontoea_spark.pipeline.kg_build import build_kg
from ontoea_spark.session import Stage, local_frame


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

    def record_drop_metrics(self, stage: str, input_stage: str) -> None:
        """Silent-filter accounting (P4/P5 inner-join drops): the rows
        ``stage`` lost against ``input_stage``, both completed — read
        from the manifest, no count job."""
        m = self.manifest()
        entry = m["stages"][stage]
        entry["rows_in"] = m["stages"][input_stage]["rows"]
        entry["rows_out"] = entry["rows"]
        entry["rows_dropped"] = entry["rows_in"] - entry["rows_out"]
        self._write_manifest(m)

    def partition_metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path(stage))

    def all_partition_metrics(self) -> DataFrame:
        """(part_id, rows, stage) of every completed stage; no rows
        before the first stage completes."""
        base = posixpath.join(self.base, "_metrics")
        stages = [
            s for s in (self.fs.listdir(base) if self.fs.exists(base) else [])
            if self.fs.is_dir(posixpath.join(base, s))
        ]
        if not stages:
            return local_frame(self.spark, [], "part_id int, rows long, stage string")
        return reduce(
            DataFrame.unionByName, [self.partition_metrics(s) for s in sorted(stages)]
        )


def _parquet_stages(
    cp: CheckpointManager, layouts: dict, suffix: str = ""
) -> tuple[Stage, dict[str, str]]:
    """``cp.run_stage`` as a ``session.Stage``: stage ``name`` snapshots to
    ``name + suffix`` with its parquet layout from ``layouts`` (the
    snapshot replaces the in-memory ``local`` checkpoint). Also returns
    the name -> snapshot-name map, filled as the DAG runs."""
    names: dict[str, str] = {}

    def stage(name: str, build: Callable[[], DataFrame], local=None) -> DataFrame:
        names[name] = name + suffix
        return cp.run_stage(names[name], build, **layouts.get(name, {}))

    return stage, names


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    base_dir: str,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """``build_kg`` with every stage a resumable snapshot. Edges are
    repartitioned by s_id and partitioned by kg at the sink (co-located
    adjacency scans downstream — the Iceberg-shaped layout), vertices
    partitioned by kg."""
    cp = CheckpointManager(spark, base_dir)
    stage, _ = _parquet_stages(
        cp,
        {
            "edges": {"partition_by": "kg", "repartition": (partitions, "s_id")},
            "vertices": {"partition_by": "kg"},
        },
    )
    kg = build_kg(pages, stage)
    cp.record_drop_metrics("edges", "triples")
    keys = ("pages_text", "triples", "ent_ids", "rel_ids", "edges", "vertices", "links")
    return {**{k: getattr(kg, k) for k in keys}, "_manager": cp}


def run_canonicalize_checkpointed(
    build: dict,
    links: DataFrame | None = None,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """``canonicalize_kg`` with every stage a resumable snapshot, over the
    triples of a completed :func:`run_pipeline_checkpointed` build;
    canonical edges are repartitioned by s_id. A killed canonicalization
    resumes without re-running the build OR the component iteration.

    ``links``: the (e1, e2) pair table to merge on — the build's own
    gold links by default, or predicted matches from the alignment
    stage (align_pipeline.predict_matches) plus train seeds.

    Stage names carry a FINGERPRINT of the link set (row count + an
    order-independent content hash, one O(|links|) aggregate): a resume
    with the SAME links reloads snapshots, but re-running the same
    checkpoint dir with DIFFERENT links (e.g. gold first, then
    ``--align`` predictions) gets fresh stages instead of silently
    reusing a canonical graph built from the other link set.
    """
    cp: CheckpointManager = build["_manager"]
    if links is None:
        links = build["links"]
    fp_row = links.agg(
        F.count("*").alias("n"),
        F.sum(portable_hash64(F.concat_ws("\t", "e1", "e2"))).alias("h"),
    ).first()
    fp = f"{fp_row['n']}_{(fp_row['h'] or 0) & 0xFFFFFFFFFFFF:x}"
    stage, names = _parquet_stages(
        cp, {"canonical_edges": {"repartition": (partitions, "s_id")}}, f"_{fp}"
    )
    kg = canonicalize_kg(build["triples"], None, links, stage)
    cp.record_drop_metrics(names["canonical_edges"], names["canonical_triples"])
    keys = ("triples", "ent_ids", "rel_ids", "edges", "vertices")
    return {
        "canonical_map": kg.mapping,
        **{f"canonical_{k}": getattr(kg, k) for k in keys},
        "link_fingerprint": fp,
        "_stage_names": names,
        "_manager": cp,
    }
