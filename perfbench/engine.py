"""The engine's set-up and tear-down, as the benchmark times them.

Set-up is the package import, ``session.get_session()`` and a first
trivial action; tear-down stops the session and waits for its JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: conf the benchmark adds to the engine defaults: no console progress
#: bars on stderr; nothing that changes execution
BENCH_CONF = {"spark.ui.showConsoleProgress": "false"}


def import_package() -> float:
    """Put the repository and its ``tools/`` on ``sys.path``, then import the
    engine package and its query registry; returns the import seconds."""
    for path in (os.path.join(ROOT, "tools"), ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)
    t0 = time.perf_counter()
    import dask_ssh_docker_spark.queries  # noqa: F401
    import dask_ssh_docker_spark.session  # noqa: F401

    return time.perf_counter() - t0


def start_session():
    """``get_session()`` plus a first trivial action.

    Returns ``(spark, {"jvm_start_s": …, "first_action_s": …})``."""
    from dask_ssh_docker_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench", conf=BENCH_CONF)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"jvm_start_s": t1 - t0, "first_action_s": t2 - t1}


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the session's JVM (``VmHWM``), in MiB."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)

