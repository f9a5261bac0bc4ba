"""The engine's one JVM class: ``sparkgraft.NioLocalFileSystem``.

Hadoop's local ``FileSystem`` with a raw layer that sets permission bits
through ``java.nio`` instead of forking ``chmod`` (see the Java source).
:mod:`~dask_ssh_docker_spark.session` puts :data:`JAR` on the driver's
class path of local masters and names :data:`LOCAL_FS_CLASS` for
``file:`` there.

The jar is committed next to its source and carries the source's SHA-256
in its manifest (:data:`SOURCE_DIGEST`); rebuild it after editing the
source with::

    python -m dask_ssh_docker_spark.jvm
"""

from __future__ import annotations

import hashlib
import os
import re
import zipfile

_HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(_HERE, "NioLocalFileSystem.java")
JAR = os.path.join(_HERE, "spark-graft-fs.jar")
LOCAL_FS_CLASS = "sparkgraft.NioLocalFileSystem"
#: the manifest attribute that records the SHA-256 of the built source
SOURCE_DIGEST = "Source-SHA-256"


def source_sha256() -> str:
    with open(SOURCE, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def jar_source_sha256() -> str | None:
    """The source digest recorded in the jar's manifest, if any."""
    with zipfile.ZipFile(JAR) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    # a manifest line over 72 bytes continues on lines that start with a space
    for line in re.sub(r"\r?\n ", "", manifest).splitlines():
        key, _, value = line.partition(": ")
        if key == SOURCE_DIGEST:
            return value.strip()
    return None
