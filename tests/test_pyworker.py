"""The Python worker daemon shim (``pyworker/spark_graft_daemon.py``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 each ``zipimporter`` then re-reads its
archive's central directory (``pyspark.zip`` and the Spark core jar head
the worker path).  On local masters the engine session starts workers
through a daemon that re-reads an archive only when it changed on disk.
These pins are deterministic: they check which directory object each
importer holds, not how long a task takes."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from dask_ssh_docker_spark.session import _PYWORKER_DIR, default_conf

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


SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from dask_ssh_docker_spark.delayed import delayed
from dask_ssh_docker_spark.session import get_session
spark = get_session(master="local[2]",
                    conf={{"spark.executorEnv.PYTHONPATH": {caller!r}}})

def worker():
    import sys
    import caller_mod
    return caller_mod.VALUE, sys.argv[0], sys.path

def batches(it):
    for pdf in it:
        yield pdf.assign(v=pdf.id * 2)

value, daemon, path = delayed(worker)().compute()
total = sum(r.v for r in spark.range(10).mapInPandas(batches, "id long, v long").collect())
print("RESULT", json.dumps(dict(value=value, daemon=daemon, path=path, total=total)))
spark.stop()
"""


@pytest.fixture(scope="module")
def foreign_cwd_run(tmp_path_factory):
    """One engine session started from ``/tmp`` with ``PYTHONPATH`` unset
    and a caller-supplied worker path holding ``caller_mod``."""
    caller = tmp_path_factory.mktemp("caller_path")
    (caller / "caller_mod.py").write_text("VALUE = 42\n")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, caller=str(caller))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
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
