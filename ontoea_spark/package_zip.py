"""Build the --py-files zip for spark-submit cluster runs.

Usage: ``python -m ontoea_spark.package_zip /tmp/ontoea_spark.zip``
"""

from __future__ import annotations

import hashlib
import os
import sys
import zipfile


def _sources() -> tuple[str, list[str]]:
    """(the directory above the package, the package's ``.py`` files)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return os.path.dirname(pkg_dir), sorted(
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )


def build_zip(out_path: str) -> str:
    root, sources = _sources()
    with zipfile.ZipFile(out_path, "w") as z:
        for full in sources:
            z.write(full, os.path.relpath(full, root))
    return out_path


def versioned_zip(directory: str) -> str:
    """The package zip in ``directory``, named by a hash of its sources'
    paths and contents and written by rename, so the directory holds one
    zip per package version however many processes ask. Nothing removes
    it: a cluster's file server serves it by path for a session's life."""
    root, sources = _sources()
    digest = hashlib.sha256()
    for full in sources:
        digest.update(os.path.relpath(full, root).encode() + b"\0")
        with open(full, "rb") as f:
            digest.update(f.read() + b"\0")
    path = os.path.join(directory, f"ontoea_spark_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        os.replace(build_zip(f"{path}.{os.getpid()}.tmp"), path)
    return path


if __name__ == "__main__":
    print(build_zip(sys.argv[1]))
