"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions ~ cores, AQE on (runtime coalesce + skew-join
splitting), Arrow on for every pandas-UDF boundary, UTC session time zone
so timestamp semantics are stable across driver hosts.

Package code turns a driver-held row list into a DataFrame only through
``local_frame``: a plain ``createDataFrame(rows)`` re-runs a Python
worker task per slice on every job that scans it, while the checkpointed
frame pays that Python pass once and serves later scans from JVM blocks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "ontoea_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``).
    On a real cluster these builder settings move to spark-submit confs;
    nothing here is local-mode-specific except the master URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

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
