"""Streaming checkpoint files and local file writes on local masters.

The engine session writes streaming offset, commit and source logs and
state-store files through Spark's FileSystem-based checkpoint manager.
The FileContext-based default renames each temp file after asking for the
link status of both ends of the file and of its ``.crc``; without
libhadoop every such ask forks ``readlink`` from the JVM.  The engine's
``file:`` filesystem sets permission bits through ``java.nio``, where
Hadoop's forks ``chmod`` for every local create and mkdir.

- The fork pins put logging ``readlink`` and ``chmod`` shims first on the
  JVM's ``PATH`` and count the ``readlink`` forks on checkpoint paths and
  every ``chmod`` fork.
- The parity pins compare the modes and ``.crc`` files that engine and
  plain sessions leave.
- The conf pin checks which masters get the manager.
- The resume pins restart streams on checkpoints the manager wrote."""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import stat
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from dask_ssh_docker_spark.session import (
    _CHECKPOINT_MANAGER,
    _FS_CHECKPOINT_MANAGER,
    _session_conf,
    default_conf,
)
from dask_ssh_docker_spark.streaming import tumbling_counts
from dask_ssh_docker_spark.streaming.mv import incremental_agg_mv, read_mv

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "user_id long, event_type string, value double, ts timestamp"


def _write_slices(src, n_files=3, rows=60):
    """``n_files`` parquet files of ``rows`` events each, written with
    pyarrow (no Spark job), spread over several hours of event time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for f in range(n_files):
        ids = range(f * rows, (f + 1) * rows)
        pq.write_table(
            pa.table({
                "user_id": pa.array([i % 7 for i in ids], pa.int64()),
                "event_type": pa.array([("click", "view")[i % 2] for i in ids]),
                "value": pa.array([i / 4 for i in ids], pa.float64()),
                "ts": pa.array([t0 + dt.timedelta(minutes=7 * i) for i in ids],
                               pa.timestamp("us", tz="UTC")),
            }),
            os.path.join(src, f"slice{f}.parquet"),
        )


#: the random and per-session parts of Spark's file names
_IDS = re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}|(?<=rdd-)[0-9]+")


def _tree(root: str) -> dict[str, str]:
    """Every dir and file under ``root``, its name's ids masked: its mode,
    and for a ``.crc`` file whether its size fits its data file's (an
    8-byte header and 4 bytes for each 512-byte chunk)."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(dirpath, name)
            mode = f"{stat.S_IMODE(os.lstat(path).st_mode):o}"
            if name.startswith(".") and name.endswith(".crc"):
                data = os.path.join(dirpath, name[1:-len(".crc")])
                chunks = -(-os.path.getsize(data) // 512)
                mode += " crc" if os.path.getsize(path) == 8 + 4 * chunks else " bad crc"
            out[_IDS.sub("<id>", os.path.relpath(path, root))] = mode
    return out


SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {tests!r})
from pyspark.sql import SparkSession, functions as F
from dask_ssh_docker_spark.session import get_session
from dask_ssh_docker_spark.streaming import tumbling_counts
from dask_ssh_docker_spark.streaming.mv import incremental_agg_mv
from test_checkpoint_files import SCHEMA, _tree, _write_slices

if {engine!r}:
    spark = get_session(master="local[2]")
else:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
spark.conf.set("spark.sql.shuffle.partitions", "4")  # one state-store layout
work = {work!r}
src = os.path.join(work, "src")
_write_slices(src)

def stream():
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)

mv = incremental_agg_mv(
    stream(), lambda b: b.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
    ["user_id"], {{"n": "sum"}}, os.path.join(work, "snap"), os.path.join(work, "ckpt_mv"))
mv.awaitTermination()
agg = (tumbling_counts(stream()).writeStream.format("memory").queryName("counts")
       .outputMode("update").option("checkpointLocation", os.path.join(work, "ckpt_agg"))
       .trigger(availableNow=True).start())
agg.awaitTermination()
pq = os.path.join(work, "pq")
spark.range(10).repartition(4).write.parquet(pq)
spark.sparkContext.setCheckpointDir(os.path.join(work, "rdd_ckpt"))
checkpointed = spark.range(10).repartition(4).checkpoint(eager=True)
print("RESULT", json.dumps(dict(
    manager=spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None),
    batches=[sum(1 for p in q.recentProgress if p["numInputRows"]) for q in (mv, agg)],
    rows=[spark.read.parquet(pq).count(), checkpointed.count()],
    trees={{name: _tree(os.path.join(work, name))
           for name in ("pq", "rdd_ckpt", "ckpt_agg/state")}})))
spark.stop()
"""


def _forks(tmp_path, engine: bool) -> dict:
    """Run SCRIPT in a fresh process whose JVM finds logging ``readlink``
    and ``chmod`` first on its ``PATH``; returns the script's result and
    the logged argument lists of each command."""
    shims, work = tmp_path / "bin", tmp_path / "work"
    shims.mkdir()
    for cmd in ("readlink", "chmod"):
        real = shutil.which(cmd)
        shim = shims / cmd
        shim.write_text(
            f'#!/bin/sh\necho "$*" >> "{tmp_path / cmd}.log"\nexec {real} "$@"\n'
        )
        shim.chmod(shim.stat().st_mode | stat.S_IXUSR)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(
            repo=REPO, tests=os.path.dirname(__file__), engine=engine, work=str(work))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PATH": f"{shims}{os.pathsep}{os.environ['PATH']}"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    out = json.loads(line[len("RESULT "):])
    for cmd in ("readlink", "chmod"):
        log = tmp_path / f"{cmd}.log"
        out[cmd] = log.read_text().splitlines() if log.exists() else []
    out["checkpoints"] = [str(work / "ckpt_mv"), str(work / "ckpt_agg")]
    out["parquet"] = str(work / "pq")
    return out


def _on_checkpoints(args: list[str], checkpoints: list[str]) -> list[str]:
    return [a for a in args if any(c in a for c in checkpoints)]


@pytest.fixture(scope="module")
def engine_forks(tmp_path_factory):
    return _forks(tmp_path_factory.mktemp("engine_forks"), engine=True)


@pytest.fixture(scope="module")
def plain_forks(tmp_path_factory):
    return _forks(tmp_path_factory.mktemp("plain_forks"), engine=False)


def test_engine_checkpoints_fork_no_readlink(engine_forks):
    """Nor any ``chmod``: not for the streams, the parquet write or the
    reliable checkpoint."""
    assert engine_forks["manager"] == _FS_CHECKPOINT_MANAGER
    assert engine_forks["batches"] == [3, 3]
    assert _on_checkpoints(engine_forks["readlink"], engine_forks["checkpoints"]) == []
    assert engine_forks["chmod"] == []


def test_plain_session_checkpoints_fork_readlink(plain_forks):
    """The same queries under Spark's default manager: the shim sees the
    ``readlink`` forks the engine session avoids."""
    assert plain_forks["manager"] is None
    assert plain_forks["batches"] == [3, 3]
    assert _on_checkpoints(plain_forks["readlink"], plain_forks["checkpoints"])
    assert plain_forks["chmod"]  # the shims are on the JVM's PATH


def test_parquet_write_forks_chmod_in_plain_sessions_only(engine_forks, plain_forks):
    """A 10-row, 4-partition parquet write: Hadoop's local filesystem
    forks ``chmod`` for its files, ``.crc`` files and committer dirs; the
    engine's forks none."""
    assert engine_forks["rows"] == plain_forks["rows"] == [10, 10]
    assert _on_checkpoints(engine_forks["chmod"], [engine_forks["parquet"]]) == []
    assert _on_checkpoints(plain_forks["chmod"], [plain_forks["parquet"]])


@pytest.mark.parametrize("tree", ["pq", "rdd_ckpt", "ckpt_agg/state"])
def test_engine_and_plain_sessions_leave_the_same_modes_and_crcs(
    engine_forks, plain_forks, tree
):
    """A parquet write, a reliable ``checkpoint()`` and a stateful
    stream's state store: the same dirs and files with the same modes,
    and the same ``.crc`` files."""
    engine, plain = engine_forks["trees"][tree], plain_forks["trees"][tree]
    assert any(name.endswith(".crc") for name in engine), engine
    assert not any(mode.endswith("bad crc") for mode in engine.values()), engine
    assert engine == plain


def test_manager_on_local_masters_only_and_caller_wins():
    assert default_conf(master="local[2]")[_CHECKPOINT_MANAGER] == _FS_CHECKPOINT_MANAGER
    assert _session_conf("local[2]")[_CHECKPOINT_MANAGER] == _FS_CHECKPOINT_MANAGER
    assert _CHECKPOINT_MANAGER not in default_conf(master="spark://h:7077")
    assert _CHECKPOINT_MANAGER not in _session_conf("spark://h:7077")
    mine = "org.example.MyCheckpointFileManager"
    assert _session_conf("local[2]", {_CHECKPOINT_MANAGER: mine})[_CHECKPOINT_MANAGER] == mine


def _stream(spark, src):
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)


def test_file_stream_resumes_with_only_the_remaining_files(spark, tmp_path):
    """Stopped after one micro-batch (one file present) and restarted on
    the same checkpoint once two more files land, the stream processes
    only those two, in batches 1 and 2."""
    assert spark.conf.get(_CHECKPOINT_MANAGER) == _FS_CHECKPOINT_MANAGER
    staged, src, ckpt = tmp_path / "staged", tmp_path / "src", str(tmp_path / "ckpt")
    _write_slices(str(staged))
    src.mkdir()
    seen = []

    def run():
        q = (
            _stream(spark, str(src)).writeStream
            .foreachBatch(lambda df, epoch: seen.append(
                (epoch, sorted(r.value for r in df.select("value").collect()))))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copy(staged / "slice0.parquet", src)
    run()
    assert [epoch for epoch, _ in seen] == [0]
    for f in ("slice1.parquet", "slice2.parquet"):
        shutil.copy(staged / f, src)
    run()
    assert [epoch for epoch, _ in seen] == [0, 1, 2]
    values = [v for _, batch in seen for v in batch]
    assert sorted(values) == [i / 4 for i in range(180)]  # each row exactly once


def test_stateful_query_resumes_to_the_one_shot_result(spark, tmp_path):
    """A windowed aggregate restarted on its checkpoint after one
    micro-batch gives the same complete result as one run over all files;
    so does the MV, whose stream checkpoint holds the same logs."""
    staged, src = tmp_path / "staged", tmp_path / "src"
    _write_slices(str(staged))
    src.mkdir()

    def counts(ckpt, name):
        q = (
            tumbling_counts(_stream(spark, str(src))).writeStream.format("memory")
            .queryName(name).outputMode("complete")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = sorted(spark.table(name).collect())
        spark.catalog.dropTempView(name)
        return rows

    def mv():
        incremental_agg_mv(
            _stream(spark, str(src)),
            lambda b: b.groupBy("user_id").agg(F.sum("value").alias("s")),
            ["user_id"], {"s": "sum"}, str(tmp_path / "snap"), str(tmp_path / "ckpt_mv"),
        ).awaitTermination()
        return sorted(read_mv(spark, str(tmp_path / "snap")).collect())

    shutil.copy(staged / "slice0.parquet", src)
    first, first_mv = counts("ckpt", "resume_a"), mv()
    for f in ("slice1.parquet", "slice2.parquet"):
        shutil.copy(staged / f, src)
    resumed, resumed_mv = counts("ckpt", "resume_b"), mv()
    one_shot = counts("ckpt_one_shot", "resume_c")
    assert first != resumed
    assert resumed == one_shot
    ev = spark.read.schema(SCHEMA).parquet(str(src))
    assert first_mv != resumed_mv
    assert resumed_mv == sorted(ev.groupBy("user_id").agg(F.sum("value").alias("s")).collect())
