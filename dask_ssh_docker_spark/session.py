"""SparkSession factory — local/cluster transparency.

The reference's core contract is that the same user script runs unmodified
on local threads or on a cluster, with all cluster detail living outside
user code (``/root/reference/example/test.py:5-13``,
``/root/reference/README.md:25-29``).  Here that contract is: user code
receives a :class:`~pyspark.sql.SparkSession`; this factory decides master
and configuration.  ``master`` resolution order: explicit argument →
``SPARK_GRAFT_MASTER`` env var → ``local[N]`` with N from
``SPARK_GRAFT_CPUS`` (default ``local[*]``).

Defaults are tuned for analytics at scale:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) — the Spark analog of Dask's dynamic work stealing
  (SURVEY.md §4.2).
- Arrow on for pandas interchange / Pandas UDFs.
- UTC session timezone so timestamp semantics match the parquet sources
  and the DuckDB oracle.
- ``spark.sql.shuffle.partitions`` sized to core count locally; on a real
  cluster AQE coalescing makes an over-provisioned value cheap, so we set
  a large initial partition number and let AQE shrink it.
- On local masters, Python workers start through
  ``pyworker/spark_graft_daemon.py``: PySpark's daemon with zip
  archives re-read only when they change, not at every task's
  ``importlib.invalidate_caches()`` (≈0.2 s of each task before).
  Cluster masters keep PySpark's own daemon: executors on other hosts
  need not have this package.
- On local masters, :func:`get_session` also sets
  ``spark.python.unix.domain.socket.enabled=true`` and
  ``spark.python.unix.domain.socket.dir``: the worker daemon, its
  workers and the driver's collect and accumulator servers talk over
  Unix-domain sockets, not loopback TCP, where Nagle's algorithm and
  delayed ACKs stalled every Python task ≈40 ms (the worker waiting for
  the task's input behind its command).  PySpark skips
  its shared-secret handshake on these sockets, so they live in a
  directory only this user can enter (:func:`_socket_dir`, mode 0700,
  one per process, removed at exit), never loose in a shared temp dir.
  Cluster masters keep TCP: the directory does not exist on executor
  hosts.  A caller's value for either conf wins.
- On local masters, streaming offset, commit and source logs and
  state-store files go through Spark's FileSystem-based checkpoint
  manager, not the FileContext-based default.  Both write a temp file
  and rename it over the target; the FileContext rename asks for the
  link status of both ends of the file and its ``.crc``, and without
  libhadoop each ask forks ``readlink`` (4 forks of ≈3–6 ms per log
  write), where ``FileSystem.rename`` is two ``File.renameTo`` calls.
  Cluster masters keep the default: there checkpoints live on HDFS or
  an object store, where the FileContext rename is the atomic-overwrite
  path.  A caller's value wins.
- On local masters, ``file:`` paths go through
  ``sparkgraft.NioLocalFileSystem`` (``jvm/``, its jar appended to
  ``spark.driver.extraClassPath``): Hadoop's checksummed local
  filesystem, whose raw layer sets permission bits with one
  ``java.nio`` call.  Without libhadoop, Hadoop's own raw layer forks
  ``chmod`` for every local file create and mkdir: each data file, each
  ``.crc`` file, each committer directory (60 forks of ≈3–6 ms for one
  ``stream_mv_user_totals`` run and its parquet sink).  Modes, umask and
  ``.crc`` files are Hadoop's.  Cluster masters keep Hadoop's default:
  executor hosts need not have the jar.  A caller's
  ``spark.hadoop.fs.file.impl`` wins; a caller's class path is kept and
  the jar appended.
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

from .jvm import JAR as _JVM_JAR
from .jvm import LOCAL_FS_CLASS

#: the directory of the worker daemon shim, alone, for the worker path
_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_DRIVER_CLASSPATH = "spark.driver.extraClassPath"
#: path-list confs where a caller's value is kept and the engine's appended
_PATH_CONFS = (_WORKER_PATH, _DRIVER_CLASSPATH)
_FILE_FS = "spark.hadoop.fs.file.impl"
_UDS = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
#: a socket path must fit AF_UNIX's 108-byte ``sun_path`` with its NUL
_SOCKET_PATH_MAX = 107
#: what Spark and PySpark append to the socket dir: ``/.<uuid4>.sock``
_SOCKET_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 4


def default_conf(parallelism: int | None = None, master: str | None = None) -> dict[str, str]:
    """Engine default Spark conf (documented in BASELINE.md bench config).

    Shuffle sizing: near core count for local masters; for a remote
    cluster a high initial value (AQE *coalesces* but never splits a
    non-skew shuffle, so undersizing from the driver's CPU count would
    cap cluster parallelism — the driver machine knows nothing about
    executor count)."""
    local = master is None or master.startswith("local")
    p = parallelism
    if p is None and master:
        m = re.match(r"local\[(\d+)\]", master)
        if m:  # explicit local[N] wins over host CPU count
            p = int(m.group(1))
    if p is None:
        p = _default_parallelism()
    shuffle_parts = max(p, 8) if local else max(p, 400)
    out = {}
    if local:
        # In local mode the ONE JVM is driver + all executors; Spark's 1g
        # default heap starves a local[32] run (measured: a 110M-row hash
        # aggregation at sf1 OOMs).  Size it for the machine, overridable
        # via SPARK_GRAFT_DRIVER_MEM.  Cluster masters leave this to the
        # deployment (spark-submit / cluster manager owns JVM sizing).
        out["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        # the worker daemon shim (module docstring)
        out["spark.python.daemon.module"] = "spark_graft_daemon"
        out[_WORKER_PATH] = _PYWORKER_DIR
        # streaming checkpoints rename without forking (module docstring)
        out[_CHECKPOINT_MANAGER] = _FS_CHECKPOINT_MANAGER
        # local files get their permissions without forking (module docstring)
        out[_DRIVER_CLASSPATH] = _JVM_JAR
        out[_FILE_FS] = LOCAL_FS_CLASS
    out.update({
        # --- optimizer / runtime re-planning ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Coalescing posture is SCOPED by master, and local masters keep
        # parallelismFirst=true: false slowed the core suite in two A/B
        # passes:
        #
        # - LOCAL: Spark's default parallelismFirst=true.  Shuffle bytes
        #   are a bad proxy for compute density at bench scale — a 10 MB
        #   compute-dense stage (windows, candidate verification) that
        #   size-targeted coalescing folds onto 1-2 of 32 cores costs
        #   2x (interpolate_time_linear measured 0.6-0.9 s under true vs
        #   1.3-1.6 s under false in BOTH A/B passes).  KB-sized
        #   iteration frames still collapse: everything under
        #   minPartitionSize merges regardless of this flag, and cached
        #   plans re-coalesce via canChangeCachedPlanOutputPartitioning.
        # - CLUSTER: parallelismFirst=false with the 64m advisory — the
        #   Spark tuning-guide posture; at TB shuffle volumes per-stage
        #   byte size IS the right coalescing target, and max-parallelism
        #   coalescing would pin thousands of near-empty reducers.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": (
            "true" if local else "false"
        ),
        # Let AQE re-coalesce CACHED plans too: a persisted 256-row
        # frame otherwise pins the full shuffle-partition fan-out for
        # every downstream stage.  Tradeoff (possible extra exchange
        # when a cache's coalesced partitioning no longer matches a
        # downstream join) is the documented one and is test-covered.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # --- shuffle sizing (see docstring) ---
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.default.parallelism": str(shuffle_parts),
        # --- python interchange ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- deterministic timestamp semantics (matches DuckDB oracle) ---
        "spark.sql.session.timeZone": "UTC",
        # --- scan sizing for 100TB-parquet workloads ---
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.parquet.filterPushdown": "true",
        # quieter local runs
        "spark.ui.enabled": "false",
    })
    return out


def parse_hosts(spec: str) -> list[str]:
    """Resolve a ``--hosts`` value into a host list, mirroring the
    reference CLI (``/root/reference/bin/dask-ssh-docker:50-59``): a
    value naming an existing file is read as a hostfile (one host per
    line, blank lines dropped); otherwise it's a comma-separated list.
    """
    if os.path.exists(spec):
        with open(spec) as fh:
            lines = re.split(r"\r?\n", fh.read())
        return [h.strip() for h in lines if h.strip()]
    return [h.strip() for h in spec.split(",") if h.strip()]


def master_from_hosts(hosts: list[str], port: int = 7077) -> str:
    """First host becomes the master URL (`spark://host:port`) —
    the reference's "first host runs the scheduler, the rest are
    workers" contract (``bin/dask-ssh-docker`` help text + the ≥2-host
    guard at ``:61-63``).  Spark's cluster manager owns worker daemon
    lifecycle (SURVEY §7 "what NOT to build" — no SSH/Docker
    transport), so the remaining hosts are where ``start-worker.sh
    spark://host:port`` runs; this helper only completes the CLI
    parity: hostfile in, master URL out, same failure mode on a
    single-host list."""
    hosts = [h.strip() for h in hosts if h.strip()]
    if len(hosts) <= 1:
        raise ValueError(
            "at least two hosts are required: a master and one or more "
            "workers (reference contract, bin/dask-ssh-docker:61-63)"
        )
    return f"spark://{hosts[0]}:{port}"


@functools.cache
def _socket_dir() -> str:
    """This process's private directory for Python worker sockets: made
    once (``mkdtemp``: mode 0700, owned by this user), removed at exit.
    It goes under the temp dir when every socket path still fits
    AF_UNIX's limit there, else under ``/tmp`` (a deep ``TMPDIR``)."""
    prefix = "spark-graft-"  # mkdtemp appends 8 random characters
    root = tempfile.gettempdir()
    longest = len(os.fsencode(os.path.join(root, prefix))) + 8 + _SOCKET_NAME_LEN
    if longest > _SOCKET_PATH_MAX:
        root = "/tmp"
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    atexit.register(shutil.rmtree, path, True)
    return path


def _session_conf(master: str, conf: dict[str, str] | None = None) -> dict[str, str]:
    """The conf :func:`get_session` starts ``master`` with: the engine
    defaults, the caller's ``conf`` over them, and on local masters the
    Unix-domain-socket transport (module docstring) unless the caller
    turned it off.  Makes the socket directory on first local use."""
    merged = default_conf(master=master)
    for k, v in (conf or {}).items():
        if k in _PATH_CONFS and k in merged:  # keep the caller's path, add the engine's
            v = os.pathsep.join((v, merged[k]))
        merged[k] = v
    if master.startswith("local") and merged.setdefault(_UDS, "true").lower() == "true":
        merged.setdefault(_UDS_DIR, _socket_dir())
    return merged


def get_session(
    app_name: str = "spark-graft",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Mirrors ``SSHDockerCluster`` + default-``Client`` registration
    (``/root/reference/dask_ssh_docker/__init__.py:305-420``,
    ``bin/dask-ssh-docker:77-78``): after this call, user code just uses
    the session — it never constructs cluster details itself.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
        if os.environ.get("SPARK_GRAFT_CPUS")
        else "local[*]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = _session_conf(master, conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def task_slots(sc) -> int:
    """How many tasks the session's cluster runs at once.  A local
    master's thread count is read from Spark's own local scheduler, which
    already resolved ``local[*]`` against the processors the JVM may use;
    any other master gives ``sc.defaultParallelism``."""
    if sc.master == "local" or sc.master.startswith("local["):
        return sc._jsc.sc().schedulerBackend().totalCores()
    return sc.defaultParallelism


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
