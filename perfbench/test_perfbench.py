"""Pins the benchmark's span/record schema and its metric helpers.

    python3 -m pytest perfbench/test_perfbench.py -q

The traced ops run at sf0.001: ``q1_pricing_summary`` builds its plan
without a Spark job, ``sim_topk_ivfpq`` trains its index with eager jobs.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine import import_package  # noqa: E402
from run import Runner, op_stats  # noqa: E402
from spans import LAYER_METRICS, Tracer, coverage, layer_metrics, parse_total_duration  # noqa: E402
from workloads import TASK_GRAPH_OPS, WORKLOADS, SparkOp, Workload  # noqa: E402

JOB_KEYS = {"id", "start", "end", "stages"}
STAGE_KEYS = {"id", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "deser_s",
              "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
              "input_rows", "output_b"}


def test_coverage_unions_and_clips():
    assert coverage([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert coverage([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert coverage([], 0, 1) == 0


def test_op_stats_use_per_op_medians():
    m = op_stats({"a": [1.0, 9.0, 1.0], "b": [2.0, 2.0, 3.0], "c": [4.0, 4.0, 99.0]})
    assert m == {"ops_per_s": 3 / 7, "op_p50_s": 2.0, "op_tail_s": 4.0}


def test_parse_total_duration():
    text = "total (min, med, max (stageId: taskId))\n7.6 s (239 ms, 1.5 s, 1.7 s)"
    assert parse_total_duration(text) == pytest.approx(7.6)
    assert parse_total_duration("total (min, med, max)\n250 ms (1 ms)") == pytest.approx(0.25)


def test_workload_ops_are_registered():
    import_package()
    from dask_ssh_docker_spark.queries import REGISTRY

    for w in WORKLOADS.values():
        assert w.ops, w.name
        assert all(o.name in REGISTRY for o in w.spark_ops), w.name


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    import_package()
    import gen_sf

    data_dir = str(tmp_path_factory.mktemp("sf0.001"))
    gen_sf.SEED = 7
    gen_sf.generate(0.001, data_dir, vocab_mode="zipf")
    dirs = {"out": str(tmp_path_factory.mktemp("out"))}

    from dask_ssh_docker_spark.session import get_session

    spark = get_session("perfbench-test", master="local[2]")
    workload = Workload("schema", "", (
        SparkOp("q1_pricing_summary"),
        SparkOp("sim_topk_ivfpq", columns=("query_id", "vec_id", "dist", "rank")),
        *TASK_GRAPH_OPS,
    ))
    tracer = Tracer(spark, str(tmp_path_factory.mktemp("tmp")))
    runner = Runner(spark, workload, data_dir, dirs, 7, tracer)
    tracer.enabled = True
    records = {op.name: runner.run_op(op, collect=True) for op in workload.ops}
    problems = runner.check_outputs()
    assert runner.graph_mismatches == 0
    return records, problems


def test_record_schema(traced):
    records, problems = traced
    assert problems == {}
    for rec in records.values():
        assert rec.error is None
        if rec.kind == "graph":
            continue
        d = rec.to_dict()
        json.dumps(d)
        assert set(d) == {"op", "kind", "wall_s", "error", "phases", "spans",
                          "python_s", "tmp_left_b", "output_files"}
        assert set(d["phases"]) == {"construct", "exec"}
        con, ex = d["phases"]["construct"], d["phases"]["exec"]
        assert con["py4j_calls"] > 0
        assert 0 < con["wall_s"] + ex["wall_s"] <= d["wall_s"]
        assert ex["jobs"], "the sink write runs at least one job"
        for job in con["jobs"] + ex["jobs"]:
            assert set(job) == JOB_KEYS
            # job times are whole milliseconds
            assert rec.start - 1e-3 <= job["start"] <= job["end"] <= rec.end + 1e-3
            for stage in job["stages"]:
                assert set(stage) == STAGE_KEYS


def test_eager_jobs_split_from_exec(traced):
    records, _ = traced
    assert records["q1_pricing_summary"].phases["construct"].jobs == []
    assert len(records["sim_topk_ivfpq"].phases["construct"].jobs) > 0

    q1 = layer_metrics([records["q1_pricing_summary"]], 1, cores=2)
    ivf = layer_metrics([records["sim_topk_ivfpq"]], 1, cores=2)
    assert set(q1) == set(LAYER_METRICS)
    assert q1["operators.eager_jobs"] == 0 and q1["operators.eager_s"] == 0
    assert ivf["operators.eager_jobs"] > 0 and ivf["operators.eager_s"] > 0
    for m in (q1, ivf):
        assert m["exec.jobs"] > 0 and m["exec.tasks"] > 0
        assert 0 < m["queries.construct_share"] < 1
        assert m["sources.input_rows"] > 0


def test_task_graph_layers(traced):
    records, _ = traced
    graphs = [r for r in records.values() if r.kind == "graph"]
    m = layer_metrics(graphs, 1, cores=2)
    assert m["delayed.spark_jobs"] > 0 and m["delayed.tasks"] >= m["delayed.spark_jobs"]
    assert 0 < m["delayed.driver_s"] < m["delayed.graph_s"]
    assert m["delayed.s_per_task"] > 0
    assert m["futures.scatter_s"] > 0 and m["futures.gather_s"] > 0
    assert m["queries.construct_s"] == 0 and m["exec.jobs"] == 0
