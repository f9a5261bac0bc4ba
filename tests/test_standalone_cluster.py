"""End-to-end proof that the ``--hosts`` path is more than URL
formatting (VERDICT r5 item 6): launch a real standalone master + one
worker with the scripts the Spark distribution ships, run the runner
against ``--hosts 127.0.0.1,127.0.0.1`` (reference hosts contract,
``bin/dask-ssh-docker:61-78``), and execute a DataFrame query, the
``delayed`` smoke, and the futures Client on the resulting
``spark://`` session.

Everything runs in subprocesses: a JVM can host only one SparkContext,
so the cluster-mode session must not collide with the suite's shared
local session.
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import textwrap
import time

import pytest

from dask_ssh_docker_spark.jvm import LOCAL_FS_CLASS

SBIN = "/opt/spark/sbin"
MASTER_PORT = 7077
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not (
        os.path.exists(f"{SBIN}/start-master.sh")
        and os.path.exists(f"{SBIN}/start-worker.sh")
    ),
    reason="Spark standalone launch scripts not available",
)


def _port_open(port: int) -> bool:
    with socket.socket() as s:
        s.settimeout(0.5)
        return s.connect_ex(("127.0.0.1", port)) == 0


def _wait(pred, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return
        time.sleep(0.5)
    raise TimeoutError(f"timed out waiting for {what}")


@pytest.fixture(scope="module")
def standalone_master(tmp_path_factory):
    if _port_open(MASTER_PORT):
        pytest.skip(f"port {MASTER_PORT} already in use")
    tmp = tmp_path_factory.mktemp("standalone")
    env = os.environ.copy()
    env.update(
        {
            "SPARK_MASTER_HOST": "127.0.0.1",
            "SPARK_MASTER_PORT": str(MASTER_PORT),
            "SPARK_MASTER_WEBUI_PORT": "8981",
            "SPARK_WORKER_WEBUI_PORT": "8982",
            "SPARK_LOG_DIR": str(tmp / "logs"),
            "SPARK_PID_DIR": str(tmp / "pids"),
            "SPARK_WORKER_CORES": "2",
            "SPARK_WORKER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    subprocess.run(
        [f"{SBIN}/start-master.sh"], env=env, check=True, capture_output=True
    )
    try:
        _wait(lambda: _port_open(MASTER_PORT), 60, "standalone master port")
        subprocess.run(
            [f"{SBIN}/start-worker.sh", f"spark://127.0.0.1:{MASTER_PORT}"],
            env=env,
            check=True,
            capture_output=True,
        )
        yield f"spark://127.0.0.1:{MASTER_PORT}"
    finally:
        subprocess.run([f"{SBIN}/stop-worker.sh"], env=env, capture_output=True)
        subprocess.run([f"{SBIN}/stop-master.sh"], env=env, capture_output=True)


def test_runner_launch_bootstraps_and_tears_down(tmp_path):
    """--launch: hosts in, running cluster out, nothing left after —
    the reference's launch-then-run-then-teardown contract, one command."""
    if _port_open(MASTER_PORT):
        pytest.skip(f"port {MASTER_PORT} already in use")
    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            """
            def main(argv):
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
                master = spark.sparkContext.master
                assert master.startswith("spark://"), master
                total = spark.range(1000).selectExpr("sum(id) v").first()[0]
                print(f"RESULT {master} {total}")
                return 0
            """
        )
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "dask_ssh_docker_spark.runner",
            "--hosts",
            "localhost,localhost",
            "--launch",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.cores.max=2",
            str(script),
        ],
        env={
            **os.environ,
            "PYTHONPATH": REPO,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_WORKER_CORES": "2",
            "SPARK_WORKER_MEMORY": "2g",
            "SPARK_MASTER_WEBUI_PORT": "8983",
            "SPARK_WORKER_WEBUI_PORT": "8984",
        },
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-4000:])
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines and lines[-1].endswith("499500"), proc.stdout[-1500:]
    assert "spark://localhost:7077" in lines[-1]
    # teardown: the daemons --launch started must be gone
    _wait(lambda: not _port_open(MASTER_PORT), 30, "master teardown")


def test_runner_hosts_end_to_end(standalone_master, tmp_path):
    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            """
            import json

            def main(argv):
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
                assert spark is not None, "runner must have built the session"
                master = spark.sparkContext.master
                assert master.startswith("spark://"), master

                from dask_ssh_docker_spark.queries import REGISTRY

                n = REGISTRY["q1_pricing_summary"].fn(spark, argv[0]).count()

                from dask_ssh_docker_spark.delayed import delayed

                s = delayed(sum)(range(1000)).compute(spark)

                from dask_ssh_docker_spark.futures import Client

                c = Client(spark)
                doubled = c.gather(c.map(lambda x: x * 2, range(10)))
                ref = c.scatter(list(range(100)))
                tot = c.submit(sum, ref).result()

                print(
                    "RESULT "
                    + json.dumps(
                        {
                            "master": master,
                            "q1_rows": n,
                            "delayed_sum": s,
                            "doubled": doubled,
                            "scatter_sum": tot,
                        }
                    )
                )
                return 0
            """
        )
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "dask_ssh_docker_spark.runner",
            "--hosts",
            "127.0.0.1,127.0.0.1",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.cores.max=2",
            str(script),
            "--",
            "/root/testdata/sf0.001",
        ],
        env={**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable},
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),  # not the repo: catches path assumptions
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-4000:])
    result_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert result_lines, proc.stdout[-2000:]
    data = json.loads(result_lines[-1][len("RESULT "):])
    assert data["master"] == standalone_master
    assert data["q1_rows"] >= 1
    assert data["delayed_sum"] == 499500  # reference smoke invariant
    assert data["doubled"] == [x * 2 for x in range(10)]
    assert data["scatter_sum"] == sum(range(100))


def test_cluster_posture_e2e_subset(standalone_master, sf_dir, tmp_path, capsys):
    """VERDICT r9 item 5: the core queries must EXECUTE under the cluster
    posture (parallelismFirst=false, width>=400, static pins at session
    width) with plan shapes identical to the local posture's.  Runs the
    posture-comparison tool's two passes on a 3-query subset (one
    scan-agg, one window, the one pinned-exchange operator): a local
    session, then the runner on this module's standalone master; the
    full 16-query record is tools/cluster_posture_e2e.py's default run
    (BENCH_NOTES r10)."""
    sys.path.insert(0, f"{REPO}/tools")
    from cluster_posture_e2e import compare

    tool = f"{REPO}/tools/cluster_posture_e2e.py"
    local, cluster = str(tmp_path / "local.json"), str(tmp_path / "cluster.json")
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "PYSPARK_PYTHON": sys.executable,
        "CLUSTER_POSTURE_QUERIES":
            "q1_pricing_summary,window_cumsum,setsim_prefix_pairs",
    }
    for cmd in (
        [tool, "--phase", "run", "--out", local, sf_dir],
        ["-m", "dask_ssh_docker_spark.runner", "--master", standalone_master,
         "--conf", "spark.ui.enabled=false", "--conf", "spark.cores.max=2",
         tool, "--", "--out", cluster, sf_dir],
    ):
        proc = subprocess.run(
            [sys.executable, *cmd], env=env, capture_output=True, text=True,
            timeout=400, cwd=str(tmp_path),
        )
        assert proc.returncode == 0, (proc.stdout[-3000:], proc.stderr[-2000:])
    with open(cluster) as fh:
        conf = json.load(fh)["conf"]
    with open(local) as fh:
        local_conf = json.load(fh)["conf"]
    assert conf["master"] == standalone_master
    # the local-only streaming checkpoint manager stays off the cluster
    assert conf["checkpoint_manager"] is None
    # so does the local-only file: filesystem: the cluster keeps Hadoop's
    assert local_conf["file_fs"] == LOCAL_FS_CLASS
    assert conf["file_fs"] != LOCAL_FS_CLASS
    assert compare(local, cluster) == 0
    out = capsys.readouterr().out
    assert "all plans/rows match across postures" in out
    # the pin must widen to the cluster session width
    pin_lines = [ln for ln in out.splitlines()
                 if "setsim_prefix_pairs" in ln and "pins" in ln]
    assert pin_lines and "cluster=[400]" in pin_lines[-1], pin_lines
