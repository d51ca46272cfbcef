"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions ~ cores, AQE on (runtime coalesce + skew-join
splitting), Arrow on for every pandas-UDF boundary, UTC session time zone
so timestamp semantics are stable across driver hosts.

Package code turns a driver-held row list into a DataFrame only through
``local_frame``. A plain ``createDataFrame(rows)`` is a Python RDD: every
job that scans it starts a Python worker task per slice to re-pickle the
rows. ``local_frame`` hands the rows to the JVM once, as Arrow, and no
Python worker reads them. The JVM relation is rewrapped as an RDD-backed
frame so that it keeps a row-list frame's default size statistics, and
with them the join plans and the row orders the trainer's RNG walks. In a
cold ``align`` benchmark run (seed 1, ``local[4]``, 4-core host), Python
workers took 6.8 CPU-s when these frames were checkpointed row lists and
1.4 CPU-s since, all of it the evaluation's ``mapInPandas`` kernel.

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

That JVM also starts from a dynamic class-data-sharing (AppCDS)
archive: it maps the classes an earlier session loaded instead of
parsing and verifying ~150 MB of Spark and JDK classes from jars.

- *Where:* ``${XDG_CACHE_HOME:-~/.cache}/ontoea_spark/jvm/<key>.jsa``.
  The key hashes ``java.home``, the version lines of
  ``$JAVA_HOME/release`` (read without starting a JVM) and the name,
  size and mtime of every jar in ``$SPARK_HOME/jars``, so a new JDK or
  Spark gets a new archive. Deleting the directory clears them all.
- *Dump:* with no archive for the key, the session's own JVM gets
  ``-XX:ArchiveClassesAtExit=<key>.<pid>.part`` and writes the classes
  it loaded as it exits: inside ``perfbench``'s stop, which waits for
  the JVM, or in an ``atexit`` hook that closes the gateway's stdin and
  waits up to 60 s. No extra process, no background job. One JVM per
  key dumps at a time: it holds ``<key>.lock``, created as ``O_EXCL``
  would (by hard link, so no reader sees it empty), naming the writer's
  pid and its dump.
- *Publish:* a later ``get_spark`` renames a finished dump to
  ``<key>.jsa`` with ``os.replace``; a live JVM maps that file, so it
  is never rewritten in place. A dump is finished when its writer's pid
  is gone and it starts with the dynamic-archive magic ``0xf00baba8``,
  which HotSpot writes last. A dead writer's unfinished dump is
  deleted. The JVM then gets ``-XX:SharedArchiveFile=<key>.jsa``.
- *Quiet:* both flags come with ``-Xlog:cds*=off``. JDK 17's default
  logging prints CDS warnings to stdout (the dumping JVM's ``Preload
  Warning`` lines arrive at exit, after the result line that
  ``bench.py`` and ``perfbench`` parse).
- *Conf directory:* the JVM neither dumps nor maps an archive when its
  classpath holds a non-empty directory (``Error: non-empty directory
  '/opt/spark/conf/'``), and the launcher puts the Spark conf directory
  on it. So only while the gateway launches, and only when the
  effective conf directory holds nothing but ``*.template`` files,
  ``SPARK_CONF_DIR`` names the package's empty ``jvm/conf``; the
  caller's environment is restored after.
- *Fallback:* the JVM starts exactly as before when the conf directory
  holds a real file; when ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
  ``SPARK_DIST_CLASSPATH`` is set or the caller adds a driver
  classpath; when the caller's ``extraJavaOptions`` hold a CDS option
  (``-Xshare:off`` beside a dump flag stops the JVM); while another JVM
  dumps the key; when this process has a JVM already (a second
  ``get_spark``, or a driver started by ``spark-submit``); and when the
  cache cannot be written. A stale or foreign archive is safe too:
  ``-Xshare:auto`` is JDK 17's default, so the JVM starts without it.

Measured with ``perfbench`` (10 alternating pairs per workload, seeds
1-10, ``local[4]``, 4-core host, starting from an empty cache so the
first run dumps): ``setup_s`` medians fell from 12.4 to 7.5 CPU-s
(``ingest``) and from 10.9 to 7.2 (``align``); ``op_cpu_s`` stayed
(33.3 -> 31.1, 47.4 -> 47.4). The archive is 172 MB. The dumping run
paid +1.6 CPU-s of setup and about 16 s of wall at exit.

``mem_mb`` falls (434.8 -> 302.5 MB, 979.6 -> 864.7 MB), but that is
metaspace accounting: archived class metadata lives in the mapped file,
outside the metaspace pools the metric reads. The JVM's peak resident
set (``VmHWM``) rose instead (1801 -> 2035 MB, 2267 -> 2333 MB), since
the mapped archive pages count in it; read the two together and do not
take the ``mem_mb`` drop for a memory saving.

Ruled out, on the same 4-core host:

- C1 only (``-XX:TieredStopAtLevel=1``) roughly halved the CPU time of an
  ``align`` run (46.8 CPU-s), but a warm 300M-row ``hash(id, id*3) %
  1000`` group-by at ``local[4]`` went from about 3 s to 17-18 s per
  run. In local mode the tasks run in the driver JVM, so hot task code
  needs C2.
- Raising the tier-4 invocation thresholds gave no reliable gain in
  trial runs, and one alignment with them took 77 s of wall time.
- ``-XX:+AutoCreateSharedArchive``, which dumps and re-validates an
  archive by itself, needs JDK 19; on JDK 17 the package owns creation
  and invalidation.
- Janino's jar is signed, so the JVM leaves its classes out of the
  archive; they load from the jar as before.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import re
import shutil
import subprocess
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

_JIT = "-XX:CICompilerCount=2"
_GC = "-XX:+UseParallelGC"
_PICKS_GC = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")
# the JVM's default logging prints CDS warnings to stdout, after the
# result line a caller may parse
_QUIET_CDS = "-Xlog:cds*=off"
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")  # a dynamic archive's first bytes
_PICKS_CDS = re.compile(r"-Xshare:|SharedArchiveFile|ArchiveClassesAtExit")
_ADDS_CLASSPATH = re.compile(r"--driver-class-path|spark\.driver\.extraClassPath")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


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
    ``spark.driver.extraJavaOptions`` picks; a JVM this call starts maps
    or dumps the class-data-sharing archive (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    extra_conf = extra_conf or {}
    caller_java = str(extra_conf.get("spark.driver.extraJavaOptions", ""))
    java = [_JIT] if _PICKS_GC.search(caller_java) else [_JIT, _GC]

    with _class_archive(extra_conf) as cds:
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
            .config("spark.driver.defaultJavaOptions", " ".join(java + cds))
        )
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _archive_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "ontoea_spark", "jvm")


def _java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else that of the
    ``java`` on the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(java_home: str, spark_home: str) -> str:
    """Hash of what the archived classes come from: the JDK (its path and
    the version lines of ``release``, read without starting a JVM) and
    the name, size and mtime of every jar Spark puts on the classpath."""
    with open(os.path.join(java_home, "release")) as f:
        version = [ln.strip() for ln in f if ln.startswith(("JAVA_VERSION=", "JAVA_RUNTIME_VERSION="))]
    jars = sorted(
        (e.name, st.st_size, st.st_mtime_ns)
        for e in os.scandir(os.path.join(spark_home, "jars"))
        for st in [e.stat()]
    )
    blob = json.dumps([os.path.realpath(java_home), version, jars])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finished(part: str) -> bool:
    """Whether a dump is whole: HotSpot writes the header, magic first,
    after everything else."""
    try:
        with open(part, "rb") as f:
            return f.read(4) == _CDS_MAGIC
    except FileNotFoundError:
        return False


def _write_lock(lock: str, pid: int, part: str, replace: bool) -> bool:
    """Write ``<pid> <part name>`` to ``lock`` in one step: a new lock
    only if none exists (``os.link`` fails on an existing name, as
    ``O_EXCL`` does, but never shows a reader an empty file)."""
    tmp = f"{lock}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(f"{pid} {os.path.basename(part)}\n")
    try:
        if replace:
            os.replace(tmp, lock)
            return True
        os.link(tmp, lock)
        return True
    except FileExistsError:
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _archive_plan(conf: dict) -> tuple[list[str], str, str | None] | None:
    """(JVM flags, empty conf directory, dump lock or None) for the JVM
    the next ``getOrCreate`` starts, or None where it starts as before."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # this session does not start the JVM
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    if _ADDS_CLASSPATH.search(" ".join(conf) + " " + os.environ.get("PYSPARK_SUBMIT_ARGS", "")):
        return None
    if _PICKS_CDS.search(str(conf.get("spark.driver.extraJavaOptions", ""))):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(f.endswith(".template") for f in os.listdir(conf_dir)):
        return None  # a real conf file must stay on the classpath
    java_home = _java_home()
    if java_home is None:
        return None
    home = _archive_dir()
    empty = os.path.join(home, "conf")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        return None
    key = _archive_key(java_home, spark_home)
    jsa, lock = os.path.join(home, f"{key}.jsa"), os.path.join(home, f"{key}.lock")
    if os.path.exists(jsa) and not _finished(jsa):
        os.unlink(jsa)  # not an archive at all: dump a new one
    if not os.path.exists(jsa) and os.path.exists(lock):
        with open(lock) as f:
            pid, name = f.read().split()
        if _alive(int(pid)):
            return None  # another JVM is dumping this key
        part = os.path.join(home, name)
        if _finished(part):
            os.replace(part, jsa)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(part)
        os.unlink(lock)
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", _QUIET_CDS], empty, None
    part = os.path.join(home, f"{key}.{os.getpid()}.part")
    if not _write_lock(lock, os.getpid(), part, replace=False):
        return None
    return [f"-XX:ArchiveClassesAtExit={part}", _QUIET_CDS], empty, lock


def _await_dump(proc: subprocess.Popen) -> None:
    """End the dumping JVM and wait while it writes its archive."""
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on end of input
    with contextlib.suppress(subprocess.TimeoutExpired):
        proc.wait(timeout=60)


@contextlib.contextmanager
def _class_archive(conf: dict) -> Iterator[list[str]]:
    """Yield the class-data-sharing flags for the JVM that the session
    built inside the block may start (module docstring); empty where it
    starts as before. ``SPARK_CONF_DIR`` names the package's empty conf
    directory only inside the block."""
    try:
        plan = _archive_plan(conf)
    except (OSError, ValueError):  # an unwritable cache, a foreign lock file
        plan = None
    if plan is None:
        yield []
        return
    flags, empty, lock = plan
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty
    try:
        yield flags
    except BaseException:
        if lock is not None:
            with contextlib.suppress(OSError):
                os.unlink(lock)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if lock is not None:
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc  # exec'd by spark-submit: the JVM's pid
        with contextlib.suppress(OSError):
            part = flags[0].split("=", 1)[1]
            _write_lock(lock, proc.pid, part, replace=True)
        atexit.register(_await_dump, proc)


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """The DataFrame of a driver-held row list (DDL ``schema``), built in
    the JVM: no Python worker ever reads it.

    The rows become a ``pyarrow.Table`` under the schema's Arrow types
    (through ``StructType.toInternal``, so timestamps, dates and NULLs
    read as ``createDataFrame(rows, schema)`` reads them), which Spark
    turns into a JVM local relation. That relation carries its real size,
    and a small real size lets the planner and AQE pick other broadcast
    sides, and so other row orders, than a row-list frame gets. The frame
    is therefore the relation's rows rewrapped as an RDD-backed frame,
    whose default size statistics are those of ``createDataFrame(rows)``:
    plans and row orders stay those of a row-list frame, and so do its
    slices (one per core, fewer when there are fewer rows). Every job
    ships the rows from the driver JVM's copy in its tasks. No rows give a
    zero-partition frame, which starts no task."""
    if not rows:
        struct = spark._jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
        jdf = spark._jsparkSession.createDataFrame(spark._jsc.emptyRDD(), struct)
        return DataFrame(jdf, spark)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = zip(*(struct.toInternal(r) for r in rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    local = spark.createDataFrame(table, struct)._jdf
    jdf = spark._jsparkSession.internalCreateDataFrame(
        local.queryExecution().toRdd(), local.schema(), False
    )
    return DataFrame(jdf, spark)


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
