"""The engine's ``file:`` filesystem on local masters.

``sparkgraft.NioLocalFileSystem`` (``dask_ssh_docker_spark/jvm/``) is
Hadoop's checksummed local filesystem over a raw layer that sets the nine
rwx bits through ``java.nio``; Hadoop's own raw layer forks ``chmod``
for that when libhadoop is absent.  The fork counts and the parity of
modes and ``.crc`` files are pinned in ``test_checkpoint_files.py``."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import zipfile

from dask_ssh_docker_spark.jvm import JAR, LOCAL_FS_CLASS, jar_source_sha256, source_sha256
from dask_ssh_docker_spark.session import (
    _DRIVER_CLASSPATH,
    _FILE_FS,
    _session_conf,
    default_conf,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_jar_is_built_from_the_committed_source():
    """The manifest records the SHA-256 of the source it was compiled
    from (``python -m dask_ssh_docker_spark.jvm`` rebuilds it)."""
    assert jar_source_sha256() == source_sha256()
    with zipfile.ZipFile(JAR) as zf:
        classes = {n for n in zf.namelist() if n.endswith(".class")}
    assert classes == {"sparkgraft/NioLocalFileSystem.class",
                       "sparkgraft/NioLocalFileSystem$Raw.class"}


def test_local_fs_on_local_masters_only_and_caller_wins():
    assert default_conf(master="local[2]")[_FILE_FS] == LOCAL_FS_CLASS
    local = _session_conf("local[2]")
    assert local[_FILE_FS] == LOCAL_FS_CLASS
    assert local[_DRIVER_CLASSPATH] == JAR
    for cluster in (default_conf(master="spark://h:7077"), _session_conf("spark://h:7077")):
        assert _FILE_FS not in cluster
        assert _DRIVER_CLASSPATH not in cluster
    mine = "org.example.MyLocalFileSystem"
    assert _session_conf("local[2]", {_FILE_FS: mine})[_FILE_FS] == mine
    theirs = {_DRIVER_CLASSPATH: "/opt/a.jar"}
    assert _session_conf("local[2]", theirs)[_DRIVER_CLASSPATH] == f"/opt/a.jar{os.pathsep}{JAR}"
    assert _session_conf("spark://h:7077", theirs)[_DRIVER_CLASSPATH] == "/opt/a.jar"


def test_engine_session_sets_rwx_bits_itself_and_leaves_sticky_to_hadoop(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == f"{LOCAL_FS_CLASS}$Raw"
    for mode in ("640", "705", "1755"):
        path = tmp_path / f"d{mode}"
        path.mkdir()
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
        )
        assert f"{stat.S_IMODE(path.stat().st_mode):o}" == mode


ATTACH = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from dask_ssh_docker_spark.session import get_session

SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
spark = get_session(master="local[2]")
out = os.path.join({work!r}, "pq")
spark.range(10).repartition(4).write.parquet(out)
print("RESULT", json.dumps(dict(
    rows=spark.read.parquet(out).count(),
    hadoop=spark._jsparkSession.sessionState().newHadoopConf().get("fs.file.impl"))))
spark.stop()
"""


def test_get_session_on_a_running_plain_jvm_still_writes_parquet(tmp_path):
    """A JVM that a plain session started has no jar on its class path;
    the engine conf reaches only the runtime SQL conf there, never
    Hadoop, so ``file:`` stays Hadoop's and no class goes missing."""
    proc = subprocess.run(
        [sys.executable, "-c", ATTACH.format(repo=REPO, work=str(tmp_path))],
        cwd="/tmp", capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert json.loads(line[len("RESULT "):]) == {"rows": 10, "hadoop": None}
