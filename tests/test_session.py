"""The driver JVM profile that ``get_spark`` gives the session it starts,
the class-data-sharing archive it maps or dumps, and the driver-rows
frames of ``local_frame``.

Only the first session of a Python process starts the JVM, so the
caller-option and archive cases each run ``get_spark`` in a fresh
interpreter; the archive cases with their own ``XDG_CACHE_HOME``.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROFILE = ["-XX:CICompilerCount=2", "-XX:+UseParallelGC"]

_CHILD = """
import json, os, sys
from ontoea_spark.session import get_spark
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("test-session", master="local[1]",
                  extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
mf = spark._jvm.java.lang.management.ManagementFactory
with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
    maps = f.read().splitlines()
print("RESULT " + json.dumps({
    "args": [str(a) for a in mf.getRuntimeMXBean().getInputArguments()],
    "gcs": [str(g.getName()) for g in mf.getGarbageCollectorMXBeans()],
    "rows": spark.range(100).selectExpr("id % 7 AS k").distinct().count(),
    "mapped": sorted({ln.split()[-1] for ln in maps if ln.endswith(".jsa")}),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "probe": spark.conf.get("spark.ontoea.probe", None),
}), flush=True)
spark.stop()
"""


def _fresh_session(java_options: str, **env: str) -> dict:
    """JVM arguments, collector names, mapped archives and one job's
    result of a session that ``get_spark`` starts in a new interpreter
    with the caller's ``spark.driver.extraJavaOptions`` and ``env``.
    Asserts that the result is the only line on stdout."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g", **env)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, java_options],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1 and lines[0].startswith("RESULT "), out.stdout[-4000:]
    return json.loads(lines[0][len("RESULT "):])


def _archive_base(cache: str) -> str:
    """The path, less its suffix, of this host's archive under ``cache``."""
    from pyspark.find_spark_home import _find_spark_home

    from ontoea_spark.session import _archive_key, _java_home

    key = _archive_key(_java_home(), _find_spark_home())
    return os.path.join(cache, "ontoea_spark", "jvm", key)


def _flag(args: list[str], name: str) -> str | None:
    """The value of ``-XX:<name>=...`` in ``args``."""
    return next((a.split("=", 1)[1] for a in args if a.startswith(f"-XX:{name}=")), None)


def test_fixture_jvm_has_profile(spark):
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert all(flag in args for flag in PROFILE), args


def test_profile_merges_with_caller_java_options(tmp_path):
    tmpdir = f"-Djava.io.tmpdir={tmp_path}"
    got = _fresh_session(tmpdir)
    assert all(flag in got["args"] for flag in PROFILE + [tmpdir]), got["args"]
    assert any(name.startswith("PS ") for name in got["gcs"]), got["gcs"]
    assert got["rows"] == 7


def test_caller_collector_is_kept():
    got = _fresh_session("-XX:+UseG1GC")
    assert "-XX:+UseG1GC" in got["args"] and "-XX:CICompilerCount=2" in got["args"]
    assert "-XX:+UseParallelGC" not in got["args"], got["args"]
    assert any(name.startswith("G1 ") for name in got["gcs"]), got["gcs"]
    assert got["rows"] == 7


def test_archive_is_dumped_then_mapped(tmp_path):
    """The first session dumps the archive as its JVM exits; the next
    publishes it and maps it, with the caller's options and collector
    kept. The conf directory swap leaves the caller's environment as it
    was."""
    cache = str(tmp_path / "cache")
    tmpdir = f"-Djava.io.tmpdir={tmp_path}"
    first = _fresh_session(tmpdir, XDG_CACHE_HOME=cache)
    part = _flag(first["args"], "ArchiveClassesAtExit")
    assert part and part.endswith(".part"), first["args"]
    assert first["rows"] == 7 and first["conf_dir_kept"]
    base = _archive_base(cache)
    assert os.path.dirname(part) == os.path.dirname(base)
    with open(part, "rb") as f:  # whole before the interpreter returned
        assert f.read(4) == (0xF00BABA8).to_bytes(4, "little")

    second = _fresh_session(f"{tmpdir} -XX:+UseG1GC", XDG_CACHE_HOME=cache)
    assert _flag(second["args"], "SharedArchiveFile") == base + ".jsa", second["args"]
    assert base + ".jsa" in second["mapped"], second["mapped"]
    assert glob.glob(os.path.join(os.path.dirname(base), "*.*")) == [base + ".jsa"]
    assert tmpdir in second["args"] and "-XX:+UseG1GC" in second["args"]
    assert "-XX:+UseParallelGC" not in second["args"]
    assert any(name.startswith("G1 ") for name in second["gcs"]), second["gcs"]
    assert second["rows"] == 7 and second["conf_dir_kept"]


def test_bad_archive_or_dead_dump_still_starts(tmp_path):
    """A published file the JVM cannot use, or a dump its writer left
    unfinished, never stops the JVM from starting."""
    cache = str(tmp_path / "cache")
    base = _archive_base(cache)
    os.makedirs(os.path.dirname(base))
    magic = (0xF00BABA8).to_bytes(4, "little")
    with open(base + ".jsa", "wb") as f:
        f.write(magic + os.urandom(4096))
    got = _fresh_session("-Dx=1", XDG_CACHE_HOME=cache)
    assert _flag(got["args"], "SharedArchiveFile") == base + ".jsa", got["args"]
    assert got["rows"] == 7 and base + ".jsa" not in got["mapped"]

    os.unlink(base + ".jsa")
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = f"{base}.{dead.pid}.part"
    with open(stale, "wb") as f:
        f.write(b"\0" * 4096)
    with open(base + ".lock", "w") as f:
        f.write(f"{dead.pid} {os.path.basename(stale)}\n")
    got = _fresh_session("-Dx=1", XDG_CACHE_HOME=cache)
    part = _flag(got["args"], "ArchiveClassesAtExit")
    assert part and part != stale and not os.path.exists(stale), got["args"]
    assert got["rows"] == 7


def test_conf_file_keeps_the_plain_start(tmp_path):
    """A real file in the conf directory keeps it on the classpath: the
    session reads it and starts with no archive flag."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ontoea.probe 1\n")
    got = _fresh_session(
        "-Dx=1", SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(tmp_path / "cache")
    )
    assert got["probe"] == "1" and got["conf_dir_kept"]
    assert not any("Archive" in a or "cds" in a for a in got["args"]), got["args"]
    assert got["rows"] == 7


def test_local_frame_types_and_nulls_match_row_lists(spark):
    """Driver rows reach the JVM through Arrow with the values, types and
    NULLs that ``createDataFrame(rows, schema)`` gives them (UTC
    session); no rows give a zero-partition frame."""
    import datetime as dt

    from ontoea_spark.session import local_frame

    schema = (
        "id long, n int, name string, vec array<double>, ts timestamp, "
        "day date, x double, ok boolean"
    )
    utc = dt.timezone.utc
    rows = [
        (1, 7, "a", [0.5, -1.25], dt.datetime(2024, 3, 1, 12, 30, 15, 250, tzinfo=utc),
         dt.date(2024, 3, 1), 0.1, True),
        (None, None, None, None, None, None, None, None),
        (2**40, -3, "", [], dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=utc),
         dt.date(1970, 1, 1), float("inf"), False),
        (-5, 0, "ü☃", [None, 2.0], dt.datetime(2000, 1, 1), None, -0.0, None),
    ]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert [r.ts for r in got.collect()] == [r.ts for r in want.collect()]
    empty = local_frame(spark, [], schema)
    assert empty.rdd.getNumPartitions() == 0 and empty.collect() == []
    assert empty.schema == want.schema


_PREPARE_CHILD = """
import json, os
from ontoea_spark.session import get_spark
from ontoea_spark.training.align_pipeline import prepare_from_parts
from ontoea_spark.training.benchgen import generate_two_kg
spark = get_spark("test-prepare", master="local[2]")
b = generate_two_kg(spark, n_ent=60, n_triples=240, seed=2, vectorized=True)
d = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
rows = d.edges.count() + d.links_split.count() + d.cv_ids.count()

def tree(pid):
    kids = []
    for task in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{task}/children") as f:
            kids += [int(k) for k in f.read().split()]
    return [pid] + [p for k in kids for p in tree(k)]

def cmdline(pid):
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().replace(b"\\0", b" ").decode()

workers = [cmdline(p) for p in tree(spark.sparkContext._gateway.proc.pid)
           if "pyspark.daemon" in cmdline(p) or "pyspark.worker" in cmdline(p)]
print("RESULT " + json.dumps({"rows": rows, "workers": workers}), flush=True)
spark.stop()
"""


def test_cold_prepare_starts_no_python_worker():
    """A fresh session's prepare over ``generate_two_kg`` frames (the
    ``align`` benchmark's path) starts no Python worker process: every
    driver-held row list reaches the JVM as Arrow."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PREPARE_CHILD],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    assert got["rows"] > 0 and got["workers"] == [], got
