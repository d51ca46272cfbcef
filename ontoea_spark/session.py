"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions ~ cores, AQE on (runtime coalesce + skew-join
splitting), Arrow on for every pandas-UDF boundary, UTC session time zone
so timestamp semantics are stable across driver hosts.

Package code turns a driver-held row list into a DataFrame only through
``local_frame``: a plain ``createDataFrame(rows)`` re-runs a Python
worker task per slice on every job that scans it, while the checkpointed
frame pays that Python pass once and serves later scans from JVM blocks.

A multi-step DAG (``build_kg``, ``canonicalize_kg``, the dictionary
builders) names its shared intermediates as stages and runs each through
a stage runner: ``in_memory`` here, or the parquet-snapshotting runner
of ``pipeline/checkpoint.py``.

The driver JVM runs with a fixed JIT and collector profile,
``-XX:CICompilerCount=2 -XX:+UseParallelGC``: one C1 and one C2 compiler
thread (the JVM's default on 4 cores is one C1 and two C2) and the
throughput collector in place of G1. A session of this engine is short
and planning-bound. Split by thread name from ``/proc/<jvm>/task/*/stat``
(medians of 10 cold ``perfbench`` runs at ``local[4]``), an ``align`` run
spent 45.6 CPU-s in C2 compiler threads, 9.7 in C1, 6.3 in GC and VM
threads, 10.7 in executor tasks and 25.3 in the JVM's other threads
(py4j, planning); in an ``ingest`` run the compiler threads took 33.3 of
the JVM's 62.5 CPU-s. The JIT spent more CPU compiling Spark's lukewarm
planner code than the tasks spent on data. With the profile the C2
threads took 27.4 (``align``) and 15.4 (``ingest``) CPU-s, and the
operation's CPU time fell from 86.3 to 71.7 and from 48.5 to 39.0 CPU-s;
a warm 300M-row group-by and a 20M-row sort kept their speed. Java 17
floating point is strict (JEP 306), so the compiler tier cannot change a
result.

The profile goes in ``spark.driver.defaultJavaOptions``, which the
launcher puts before ``spark.driver.extraJavaOptions`` on the JVM's
command line, so a caller's ``extraJavaOptions`` (``perfbench`` passes
``-Djava.io.tmpdir``) still applies in full. A caller option that picks a
collector keeps it: the profile then leaves out its own, since two
collector flags stop the JVM ("Multiple garbage collectors selected").
Only the session that starts the JVM gets the profile; executors of a
cluster (``spark.executor.*``) are not touched.

Ruled out, on the same 4-core host:

- C1 only (``-XX:TieredStopAtLevel=1``) roughly halved the CPU time of an
  ``align`` run (46.8 CPU-s), but a warm 300M-row ``hash(id, id*3) %
  1000`` group-by at ``local[4]`` went from about 3 s to 17-18 s per
  run. In local mode the tasks run in the driver JVM, so hot task code
  needs C2.
- Raising the tier-4 invocation thresholds gave no reliable gain in
  trial runs, and one alignment with them took 77 s of wall time.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_JIT = "-XX:CICompilerCount=2"
_GC = "-XX:+UseParallelGC"
_PICKS_GC = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")


def get_spark(
    app_name: str = "ontoea_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``).
    On a real cluster these builder settings move to spark-submit confs;
    nothing here is local-mode-specific except the master URL. The JVM
    profile (module docstring) keeps the collector a caller's
    ``spark.driver.extraJavaOptions`` picks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    caller_java = str((extra_conf or {}).get("spark.driver.extraJavaOptions", ""))
    java = _JIT if _PICKS_GC.search(caller_java) else f"{_JIT} {_GC}"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", java)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """The DataFrame of a driver-held row list (DDL ``schema``), read by
    Python once.

    The lazy local checkpoint keeps ``createDataFrame``'s slicing and size
    statistics, so join plans are those of the plain frame; the first job
    that scans it runs the one Python pass, later jobs read its blocks (a
    lost block fails the job, as with every local checkpoint). No rows
    give a zero-partition frame built in the JVM, which starts no task."""
    if not rows:
        struct = spark._jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
        jdf = spark._jsparkSession.createDataFrame(spark._jsc.emptyRDD(), struct)
        return DataFrame(jdf, spark)
    return spark.createDataFrame(rows, schema).localCheckpoint(eager=False)


#: A stage runner, ``stage(name, build, local=None) -> DataFrame``: the
#: frame of stage ``name``, from ``build()`` when it must be computed.
Stage = Callable[..., DataFrame]


def in_memory(
    name: str, build: Callable[[], DataFrame], local: str | None = None
) -> DataFrame:
    """The plain stage runner: ``local='lazy'``/``'eager'`` localCheckpoints
    the stage so its consumers read one materialization; other stages
    stay lazy plans."""
    df = build()
    return df if local is None else df.localCheckpoint(eager=local == "eager")
