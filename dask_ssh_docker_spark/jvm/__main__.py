"""Build ``spark-graft-fs.jar`` from ``NioLocalFileSystem.java``.

Compiles with ``javac --release 17`` against PySpark's bundled
``hadoop-client-api`` jar and records the source's SHA-256 in the jar
manifest.  Usage::

    python -m dask_ssh_docker_spark.jvm
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile

import pyspark

from . import JAR, SOURCE, SOURCE_DIGEST, source_sha256


def hadoop_api_jar() -> str:
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    [api] = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    return api


def build() -> None:
    with tempfile.TemporaryDirectory() as work:
        classes = os.path.join(work, "classes")
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", classes, SOURCE],
            check=True,
        )
        manifest = os.path.join(work, "MANIFEST.MF")
        with open(manifest, "w") as fh:
            fh.write(f"{SOURCE_DIGEST}: {source_sha256()}\n")
        subprocess.run(
            ["jar", "--create", "--file", JAR, "--manifest", manifest, "-C", classes, "."],
            check=True,
        )


if __name__ == "__main__":
    build()
    print(JAR)
