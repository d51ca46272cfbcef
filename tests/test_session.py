"""The driver JVM profile that ``get_spark`` gives the session it starts.

Only the first session of a Python process starts the JVM, so the
caller-option cases each run ``get_spark`` in a fresh interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROFILE = ["-XX:CICompilerCount=2", "-XX:+UseParallelGC"]

_CHILD = """
import json, sys
from ontoea_spark.session import get_spark
spark = get_spark("test-session", master="local[1]",
                  extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
mf = spark._jvm.java.lang.management.ManagementFactory
print("RESULT " + json.dumps({
    "args": [str(a) for a in mf.getRuntimeMXBean().getInputArguments()],
    "gcs": [str(g.getName()) for g in mf.getGarbageCollectorMXBeans()],
    "rows": spark.range(100).selectExpr("id % 7 AS k").distinct().count(),
}), flush=True)
spark.stop()
"""


def _fresh_session(java_options: str) -> dict:
    """JVM arguments, collector names and one job's result of a session
    that ``get_spark`` starts in a new interpreter with the caller's
    ``spark.driver.extraJavaOptions``."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, java_options],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):])


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
