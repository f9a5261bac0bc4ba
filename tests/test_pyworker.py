"""How the engine session runs Python workers on local masters.

- The worker daemon shim (``pyworker/spark_graft_daemon.py``).  PySpark's
  worker calls ``importlib.invalidate_caches()`` at the start of every
  task; before CPython 3.13 each ``zipimporter`` then re-reads its
  archive's central directory (``pyspark.zip`` and the Spark core jar
  head the worker path).  The shim re-reads an archive only when it
  changed on disk.
- The transport: Unix-domain sockets in a private per-process directory,
  not loopback TCP.

These pins are deterministic: they check which directory object each
importer holds and which socket each task talks over, not how long a
task takes."""

from __future__ import annotations

import importlib.util
import json
import os
import stat
import subprocess
import sys
import zipfile
import zipimport

import pytest

from dask_ssh_docker_spark.session import (
    _PYWORKER_DIR,
    _SOCKET_NAME_LEN,
    _SOCKET_PATH_MAX,
    _UDS,
    _UDS_DIR,
    _session_conf,
    _socket_dir,
    default_conf,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shim():
    path = os.path.join(_PYWORKER_DIR, "spark_graft_daemon.py")
    spec = importlib.util.spec_from_file_location("spark_graft_daemon", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_task_invalidate_caches_keeps_zip_directories(spark):
    def zip_directories(_):  # nested: pickled by value to the worker
        import importlib
        import sys
        import zipimport

        def ids():
            return {
                path: id(imp._files)
                for path, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)
            }

        importlib.invalidate_caches()
        before = ids()
        importlib.invalidate_caches()
        yield before, ids(), sys.argv[0]

    [(before, after, daemon)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(zip_directories).collect()
    )
    assert daemon.endswith("spark_graft_daemon.py"), daemon
    assert any("pyspark.zip" in path for path in before), sorted(before)
    assert after == before


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_wrapper_rereads_only_a_changed_archive(tmp_path):
    shim = _shim()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    shim.invalidate_if_changed(imp)  # the first call stamps the importer
    files = imp._files
    shim.invalidate_if_changed(imp)
    assert imp._files is files
    assert imp.find_spec("b") is None

    mtime_ns = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    os.utime(archive, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    shim.invalidate_if_changed(imp)
    assert imp._files is not files
    spec = imp.find_spec("b")
    b = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(b)
    assert b.Y == 2


def test_cluster_masters_keep_pysparks_daemon():
    local = default_conf(master="local[2]")
    assert local["spark.python.daemon.module"] == "spark_graft_daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == _PYWORKER_DIR
    assert set(os.listdir(_PYWORKER_DIR)) - {"__pycache__"} == {"spark_graft_daemon.py"}
    cluster = default_conf(master="spark://h:7077")
    assert "spark.python.daemon.module" not in cluster
    assert "spark.executorEnv.PYTHONPATH" not in cluster


def test_engine_tasks_talk_over_the_sessions_unix_socket(spark):
    def task_transport(_):  # nested: pickled by value to the worker
        import os
        import socket

        names = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                fd = os.dup(int(fd))
            except OSError:
                continue  # the listing's own fd, closed by now
            try:
                sock = socket.socket(fileno=fd)
            except OSError:
                os.close(fd)
                continue  # not a socket
            with sock:
                if sock.family == socket.AF_UNIX:
                    names.add(sock.getsockname())
        yield {
            "enabled": os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", ""),
            "dir": os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR"),
            "sockets": sorted(names),
        }

    sock_dir = spark.conf.get(_UDS_DIR)
    assert sock_dir == _socket_dir()
    [seen] = spark.sparkContext.parallelize([0], 1).mapPartitions(task_transport).collect()
    assert seen["enabled"].lower() == "true"
    assert seen["dir"] == sock_dir
    assert seen["sockets"], seen
    assert {os.path.dirname(s) for s in seen["sockets"]} == {sock_dir}


def test_socket_dir_is_private_and_every_socket_path_fits(spark):
    st = os.stat(spark.conf.get(_UDS_DIR))
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(os.fsencode(_socket_dir())) + _SOCKET_NAME_LEN <= _SOCKET_PATH_MAX


def test_unix_sockets_on_local_masters_only_and_caller_wins():
    assert _UDS not in default_conf(master="local[2]")  # the transport is get_session's
    local = _session_conf("local[2]")
    assert local[_UDS] == "true"
    assert local[_UDS_DIR] == _socket_dir()
    cluster = _session_conf("spark://h:7077")
    assert _UDS not in cluster and _UDS_DIR not in cluster
    off = _session_conf("local[2]", {_UDS: "false"})
    assert off[_UDS] == "false" and _UDS_DIR not in off
    mine = _session_conf("local[2]", {_UDS_DIR: "/run/mine"})
    assert mine[_UDS] == "true" and mine[_UDS_DIR] == "/run/mine"


SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from dask_ssh_docker_spark.delayed import delayed
from dask_ssh_docker_spark.session import get_session
spark = get_session(master="local[2]",
                    conf={{"spark.executorEnv.PYTHONPATH": {caller!r}}})

def worker():
    import os, sys
    import caller_mod
    sock_dir = os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")
    return caller_mod.VALUE, sys.argv[0], sys.path, sock_dir, os.listdir(sock_dir)

def batches(it):
    for pdf in it:
        yield pdf.assign(v=pdf.id * 2)

value, daemon, path, task_dir, sockets = delayed(worker)().compute()
total = sum(r.v for r in spark.range(10).mapInPandas(batches, "id long, v long").collect())
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print("RESULT", json.dumps(dict(value=value, daemon=daemon, path=path, total=total,
                                tmpdir=os.environ["TMPDIR"], sock_dir=sock_dir,
                                task_dir=task_dir, sockets=sockets)))
spark.stop()
"""


@pytest.fixture(scope="module")
def foreign_cwd_run(tmp_path_factory):
    """One engine session started from ``/tmp`` with ``PYTHONPATH`` unset,
    a ``TMPDIR`` deeper than the benchmark's per-run one, and a
    caller-supplied worker path holding ``caller_mod``."""
    caller = tmp_path_factory.mktemp("caller_path")
    (caller / "caller_mod.py").write_text("VALUE = 42\n")
    deep = tmp_path_factory.mktemp("t" * 40) / ("d" * 40)
    deep.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, caller=str(caller))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env={**{k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
             "TMPDIR": str(deep)},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    return str(caller), json.loads(line[len("RESULT "):])


def test_engine_session_runs_python_tasks_from_a_foreign_cwd(foreign_cwd_run):
    _, out = foreign_cwd_run
    assert out["daemon"] == os.path.join(_PYWORKER_DIR, "spark_graft_daemon.py")
    assert out["total"] == 2 * sum(range(10))


def test_caller_worker_path_is_kept_and_extended(foreign_cwd_run):
    caller, out = foreign_cwd_run
    assert out["value"] == 42
    path = out["path"]
    assert path.index(caller) < path.index(_PYWORKER_DIR)


def test_deep_tmpdir_sockets_fit_in_a_private_dir_removed_at_exit(foreign_cwd_run):
    _, out = foreign_cwd_run
    assert len(os.fsencode(out["tmpdir"])) > 90  # beyond the benchmark's ≈61 bytes
    sock_dir = out["sock_dir"]
    assert out["task_dir"] == sock_dir
    assert len(os.fsencode(sock_dir)) + _SOCKET_NAME_LEN <= _SOCKET_PATH_MAX
    assert out["sockets"] and all(s.endswith(".sock") for s in out["sockets"])
    assert not os.path.exists(sock_dir)
