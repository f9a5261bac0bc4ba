"""Spans around each layer's public calls, and the per-layer metrics they give.

The tracer times calls into the engine from outside: it never patches the
package.  A traced op records

    op → construct (py4j calls, eager jobs) → exec (jobs) → job → stage

plus named layer spans (``delayed.compute``, ``futures.scatter``,
``futures.gather``) and the SQL operator time spent in Python workers.
Jobs belong to the phase whose interval submitted them: the DAG
scheduler's job ids are dense, so the ids issued between a phase's start
and end are that phase's jobs, streaming micro-batches included.  Stage
metrics come from the status store (``lastStageAttempt``), SQL node
metrics from the SQL status store; both are read after the listener bus
has drained.  Untraced, a phase costs two clock reads and nothing else.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: SQL plan nodes that run Python (Arrow / pandas UDF paths)
PYTHON_NODES = re.compile(r"Pandas|ArrowEvalPython|BatchEvalPython|PythonUDTF|Arrow")
#: SQL executions read from the status store per py4j round of the scan
EXECUTION_CHUNK = 16
_DURATION = re.compile(r"([\d.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    name: str
    start: float = 0.0  # epoch seconds, comparable with JVM timestamps
    end: float = 0.0
    py4j_calls: int = 0
    jobs: list = field(default_factory=list)
    job_ids: range = range(0)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class OpRecord:
    op: str
    kind: str  # "spark" | "graph"
    traced: bool
    streaming: bool = False
    start: float = 0.0
    end: float = 0.0
    phases: dict = field(default_factory=dict)  # "construct" / "exec" → Span
    spans: list = field(default_factory=list)  # named layer spans
    python_s: float = 0.0
    tmp_left_b: int = 0
    output_files: int = 0
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        def span(s: Span) -> dict:
            return {"name": s.name, "wall_s": s.wall_s, "py4j_calls": s.py4j_calls,
                    "jobs": s.jobs}

        return {
            "op": self.op, "kind": self.kind, "wall_s": self.wall_s,
            "error": self.error,
            "phases": {k: span(v) for k, v in self.phases.items()},
            "spans": [span(s) for s in self.spans],
            "python_s": self.python_s, "tmp_left_b": self.tmp_left_b,
            "output_files": self.output_files,
        }


class Py4jCounter:
    """Counts py4j ``send_command`` round trips while ``active``."""

    def __init__(self):
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        self.n = 0
        self.active = False
        for cls in (jg.GatewayClient, cs.JavaClient):
            orig = cls.send_command

            def counted(client, *a, _orig=orig, **kw):
                if self.active:
                    self.n += 1
                return _orig(client, *a, **kw)

            cls.send_command = counted


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


class Tracer:
    """Times ops and, when ``enabled``, records their spans and metrics."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.tmp_dir = tmp_dir
        self.enabled = False
        self.records: list[OpRecord] = []
        self._rec: OpRecord | None = None
        self.py4j = Py4jCounter()
        self._last_execution = -1  # newest SQL execution before the traced op

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, name: str, kind: str, streaming: bool = False):
        rec = OpRecord(name, kind, self.enabled, streaming)
        tmp_before = 0
        if self.enabled:
            tmp_before = dir_bytes(self.tmp_dir)
            self._last_execution = self._newest_execution()
        self._rec = rec
        rec.start = time.time()
        try:
            yield rec
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"[:500]
        finally:
            rec.end = time.time()
            self._rec = None
        if self.enabled:
            self.sc.setJobGroup("perfbench", "perfbench between ops")
            self._drain()
            for span in (*rec.phases.values(), *rec.spans):
                span.jobs = [self._job(j) for j in span.job_ids]
            rec.python_s = self._python_s()
            rec.tmp_left_b = max(0, dir_bytes(self.tmp_dir) - tmp_before)
        self.records.append(rec)

    @contextlib.contextmanager
    def phase(self, kind: str):
        """``construct`` or ``exec`` phase of the current op."""
        rec = self._rec
        span = Span(kind)
        rec.phases[kind] = span
        if self.enabled:
            self.sc.setJobGroup(f"{rec.op}/{kind}", f"perfbench {rec.op} {kind}")
        with self._timed(span, count_py4j=kind == "construct"):
            yield span

    @contextlib.contextmanager
    def span(self, name: str):
        """A named layer span inside the current phase."""
        span = Span(name)
        if self._rec is not None:
            self._rec.spans.append(span)
        with self._timed(span):
            yield span

    @contextlib.contextmanager
    def _timed(self, span: Span, count_py4j: bool = False):
        first_job = self._next_job_id() if self.enabled else 0
        if count_py4j and self.enabled:
            self.py4j.n, self.py4j.active = 0, True
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            if count_py4j and self.enabled:
                self.py4j.active = False
                span.py4j_calls = self.py4j.n
            if self.enabled:
                span.job_ids = range(first_job, self._next_job_id())

    # -- status stores ----------------------------------------------------

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int) -> dict:
        store = self._jsc.statusStore()
        try:
            job = store.job(job_id)
        except Py4JJavaError:  # evicted past spark.ui.retainedJobs
            return {"id": job_id, "start": None, "end": None, "stages": []}
        stages = []
        it = job.stageIds().iterator()
        while it.hasNext():
            sd = store.lastStageAttempt(it.next())
            if sd.status().toString() == "SKIPPED":
                continue
            stages.append({
                "id": sd.stageId(),
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "deser_s": sd.executorDeserializeTime() / 1e3,
                "shuffle_read_b": sd.shuffleReadBytes(),
                "shuffle_write_b": sd.shuffleWriteBytes(),
                "spill_b": sd.diskBytesSpilled(),
                "input_b": sd.inputBytes(),
                "input_rows": sd.inputRecords(),
                "output_b": sd.outputBytes(),
            })
        submitted, completed = job.submissionTime(), job.completionTime()
        return {
            "id": job_id,
            "start": submitted.get().getTime() / 1e3 if submitted.isDefined() else None,
            "end": completed.get().getTime() / 1e3 if completed.isDefined() else None,
            "stages": stages,
        }

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _newest_execution(self) -> int:
        store = self._sql_store()
        n = int(store.executionsCount())
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _executions_after(self, last_id: int) -> list[int]:
        """Ids of the SQL executions newer than ``last_id``, oldest first,
        read backwards from the end of the store in chunks."""
        store = self._sql_store()
        end = int(store.executionsCount())
        ids: list[int] = []
        while end > 0:
            start = max(0, end - EXECUTION_CHUNK)
            chunk = store.executionsList(start, end - start)
            chunk_ids = [chunk.apply(i).executionId() for i in range(chunk.size())]
            ids[:0] = [e for e in chunk_ids if e > last_id]
            if not chunk_ids or chunk_ids[0] <= last_id:
                break
            end = start
        return ids

    def _python_s(self) -> float:
        """Time in Python workers across the op's SQL executions, from the
        Python plan nodes' "time to run Python workers"."""
        store = self._sql_store()
        total = 0.0
        for eid in self._executions_after(self._last_execution):
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not PYTHON_NODES.search(node.name()):
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.name() != "time to run Python workers":
                        continue
                    text = values.get(m.accumulatorId())
                    if text.isDefined():
                        total += parse_total_duration(text.get())
        return total


def parse_total_duration(text: str) -> float:
    """Seconds from a Spark timing metric string; its first duration is
    the total over tasks ("total (min, med, max …)\\n7.6 s (…)")."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


# -- per-layer metrics -------------------------------------------------------


def coverage(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur_end:
            continue
        total += e - max(s, cur_end)
        cur_end = e
    return total


def _job_intervals(jobs):
    return [(j["start"], j["end"]) for j in jobs
            if j["start"] is not None and j["end"] is not None]


def _stage_sum(jobs, key):
    return sum(st[key] for j in jobs for st in j["stages"])


def _jobs_of(rec: OpRecord):
    jobs = [j for p in rec.phases.values() for j in p.jobs]
    seen = {j["id"] for j in jobs}
    return jobs + [j for s in rec.spans for j in s.jobs if j["id"] not in seen]


#: name → unit of every per-layer metric, in report order
LAYER_METRICS = {
    "session.import_s": "s", "session.jvm_start_s": "s",
    "session.first_action_s": "s", "session.cold_pass_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "queries.construct_s": "s", "queries.py4j_calls": "count",
    "queries.construct_share": "ratio",
    "operators.eager_jobs": "count", "operators.eager_tasks": "count",
    "operators.eager_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.cpu_s": "s",
    "exec.run_s": "s", "exec.gc_s": "s", "exec.shuffle_read_b": "B",
    "exec.shuffle_write_b": "B", "exec.spill_b": "B", "exec.cpu_util": "ratio",
    "sources.input_b": "B", "sources.input_rows": "count",
    "sources.output_b": "B", "sources.output_files": "count",
    "functions.python_s": "s",
    "delayed.graph_s": "s", "delayed.spark_jobs": "count",
    "delayed.tasks": "count", "delayed.driver_s": "s",
    "delayed.task_run_s": "s", "delayed.task_deser_s": "s",
    "delayed.s_per_task": "s",
    "futures.scatter_s": "s", "futures.gather_s": "s",
    "streaming.mv_s": "s", "streaming.jobs": "count",
    "streaming.tmp_left_b": "B",
    "trace.overhead_s": "s",
}


def layer_metrics(records: list[OpRecord], n_passes: int, cores: int) -> dict:
    """Per-layer sums over the traced ``records``, per pass."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    spark_wall = 0.0
    for rec in records:
        jobs = _jobs_of(rec)
        m["sources.input_b"] += _stage_sum(jobs, "input_b")
        m["sources.input_rows"] += _stage_sum(jobs, "input_rows")
        m["sources.output_b"] += _stage_sum(jobs, "output_b")
        m["sources.output_files"] += rec.output_files
        m["functions.python_s"] += rec.python_s
        m["streaming.tmp_left_b"] += rec.tmp_left_b
        if rec.streaming:
            m["streaming.mv_s"] += rec.wall_s
            m["streaming.jobs"] += len(jobs)
        if rec.kind == "spark":
            spark_wall += rec.wall_s
            con, ex = rec.phases.get("construct"), rec.phases.get("exec")
            if con is not None:
                eager = coverage(_job_intervals(con.jobs), con.start, con.end)
                m["queries.construct_s"] += con.wall_s - eager
                m["queries.py4j_calls"] += con.py4j_calls
                m["operators.eager_jobs"] += len(con.jobs)
                m["operators.eager_tasks"] += _stage_sum(con.jobs, "tasks")
                m["operators.eager_s"] += eager
            if ex is not None:
                m["exec.s"] += ex.wall_s
                m["exec.jobs"] += len(ex.jobs)
                m["exec.stages"] += sum(len(j["stages"]) for j in ex.jobs)
                for key in ("tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
                            "shuffle_read_b", "shuffle_write_b", "spill_b"):
                    m[f"exec.{key}"] += _stage_sum(ex.jobs, key)
        for s in rec.spans:
            if s.name == "delayed.compute":
                m["delayed.graph_s"] += s.wall_s
                m["delayed.spark_jobs"] += len(s.jobs)
                m["delayed.tasks"] += _stage_sum(s.jobs, "tasks")
                m["delayed.driver_s"] += s.wall_s - coverage(
                    _job_intervals(s.jobs), s.start, s.end)
                m["delayed.task_run_s"] += _stage_sum(s.jobs, "run_s")
                m["delayed.task_deser_s"] += _stage_sum(s.jobs, "deser_s")
            elif s.name in ("futures.scatter", "futures.gather"):
                m[f"{s.name}_s"] += s.wall_s
    # ratios from the sums, before the per-pass division
    m["queries.construct_share"] = (
        m["queries.construct_s"] / spark_wall if spark_wall else 0.0)
    m["exec.cpu_util"] = (
        m["exec.cpu_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0)
    m["delayed.s_per_task"] = (
        m["delayed.graph_s"] / m["delayed.tasks"] if m["delayed.tasks"] else 0.0)
    ratios = {"queries.construct_share", "exec.cpu_util", "delayed.s_per_task"}
    return {k: (v if k in ratios else v / max(1, n_passes)) for k, v in m.items()}
