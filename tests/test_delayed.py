"""delayed layer + hostfile bootstrap: the reference's demonstrated
workloads must run byte-identical through the new API, on Spark workers."""

from __future__ import annotations

import os

import pytest

from dask_ssh_docker_spark.delayed import Delayed, compute, delayed
from dask_ssh_docker_spark.session import master_from_hosts, parse_hosts, task_slots


def test_reference_smoke_sum(spark):
    # /root/reference/example/test.py:23 — print(dask.delayed(sum)(range(1000)).compute())
    assert delayed(sum)(range(1000)).compute(spark) == 499500


def test_reference_smoke_custom_func(spark):
    # /root/reference/example/custom_image/test.py:7 + my_library.py —
    # defined locally: cloudpickle ships closures/local defs by VALUE,
    # so no module distribution is needed (module-level functions still
    # ride --py-files/addPyFile, the reference custom-image analog)
    def func(x):
        return [i + 1 for i in x]

    assert delayed(func)(range(100)).compute(spark) == list(range(1, 101))


# lambdas: cloudpickle serializes them by value (a module-level def would
# be pickled by reference and need the test module on the workers)
_inc = lambda x: x + 1  # noqa: E731
_add = lambda a, b: a + b  # noqa: E731


def test_dag_nested_and_diamond(spark):
    c = delayed(_inc)(1)
    assert delayed(_add)(c, c).compute(spark) == 4
    d = delayed(_add)(delayed(_inc)(10), delayed(_inc)(20))
    assert d.compute(spark) == 32


def test_containers_of_delayed(spark):
    parts = [delayed(_inc)(i) for i in range(5)]
    total = delayed(sum)(parts)
    assert total.compute(spark) == sum(range(1, 6))
    keyed = delayed(sorted)(list({"a": 3, "b": delayed(_inc)(0)}.values()))
    assert keyed.compute(spark) == [1, 3]
    mapped = delayed(lambda d: d["x"] * d["y"])({"x": delayed(_inc)(2), "y": 10})
    assert mapped.compute(spark) == 30


def test_compute_multiple_outputs(spark):
    a, b = delayed(_inc)(1), delayed(_inc)(2)
    assert compute(a, b, spark=spark) == (2, 3)


_pid = lambda _: __import__("os").getpid()  # noqa: E731


def test_runs_on_worker_not_driver(spark):
    # local-mode executors still use separate Python worker processes
    assert delayed(_pid)(0).compute(spark) != os.getpid()


def test_type_errors():
    with pytest.raises(TypeError):
        delayed(3)
    with pytest.raises(TypeError):
        compute(42)
    with pytest.raises(TypeError):
        delayed(delayed(_inc)(1))
    assert isinstance(delayed(_inc)(1), Delayed)


# --- hostfile bootstrap (reference bin/dask-ssh-docker:50-63 parity) ---


def test_parse_hosts_csv_and_file(tmp_path):
    assert parse_hosts("h1, h2 ,h3") == ["h1", "h2", "h3"]
    hf = tmp_path / "hosts"
    hf.write_text("master.example\nworker1\n\nworker2\n")
    assert parse_hosts(str(hf)) == ["master.example", "worker1", "worker2"]


def test_master_from_hosts_url_and_guard():
    assert master_from_hosts(["m", "w1", "w2"]) == "spark://m:7077"
    assert master_from_hosts(["m", "w"], port=7078) == "spark://m:7078"
    with pytest.raises(ValueError, match="at least two hosts"):
        master_from_hosts(["only-one"])
    with pytest.raises(ValueError, match="at least two hosts"):
        master_from_hosts(["m", "  "])


def test_runner_hosts_single_host_exits_before_session(tmp_path):
    from dask_ssh_docker_spark.runner import main

    hf = tmp_path / "hosts"
    hf.write_text("lonely-host\n")
    with pytest.raises(SystemExit, match="at least two hosts"):
        main(["--hosts", str(hf)])


def test_runner_hosts_master_mutually_exclusive():
    from dask_ssh_docker_spark.runner import main

    with pytest.raises(SystemExit, match="mutually exclusive"):
        main(["--hosts", "a,b", "--master", "local[2]"])


def test_scatter_ref_inside_set_argument(spark):
    # ADVICE r6: the dict scatter marker is unhashable — a ScatterRef in a
    # set arg must ride the hashable tuple marker and still resolve
    from dask_ssh_docker_spark.futures import Client

    client = Client(spark)
    ref = client.scatter(7)
    f = client.submit(lambda s: sum(s), {ref, 1, 2})  # noqa: E731
    assert f.result() == 10


# --- fused scheduling: jobs and tasks per graph ---


def test_chain_runs_as_one_task(spark, spark_work):
    node = delayed(_inc)(delayed(_inc)(delayed(_inc)(0)))
    with spark_work() as w:
        assert node.compute(spark) == 3
    assert (w.jobs, w.tasks) == (1, 1)


def test_long_chain_one_job_no_recursion(spark, spark_work):
    # Kahn ordering and iterative levels: no per-node job, no RecursionError
    node = delayed(_inc)(0)
    for _ in range(4999):
        node = delayed(_inc)(node)
    with spark_work() as w:
        assert node.compute(spark) == 5000
    assert (w.jobs, w.tasks) == (1, 1)


def test_wide_map_packs_each_level(spark, spark_work):
    # 16 -> 4 -> 1: no node has a sole dependency, so nothing fuses; each
    # level is one job of at most `slots` tasks
    slots = task_slots(spark.sparkContext)
    incs = [delayed(_inc)(i) for i in range(16)]
    sums = [delayed(sum)(incs[i : i + 4]) for i in range(0, 16, 4)]
    total = delayed(sum)(sums)
    with spark_work() as w:
        assert total.compute(spark) == sum(range(1, 17))
    assert (w.jobs, w.tasks) == (3, min(16, slots) + min(4, slots) + 1)


def test_packed_level_deals_tasks_round_robin(spark):
    # 3 * slots sibling tasks share `slots` partitions round-robin: any
    # `slots` neighbours land on distinct partitions, and every value
    # still reaches its consumer in place
    def where(i):
        from pyspark import TaskContext

        return i, TaskContext.get().partitionId()

    slots = task_slots(spark.sparkContext)
    leaves = [delayed(where)(i) for i in range(3 * slots)]
    got = delayed(list)(leaves).compute(spark)
    assert [i for i, _ in got] == list(range(3 * slots))
    parts = [p for _, p in got]
    for k in range(2 * slots + 1):
        assert sorted(parts[k : k + slots]) == list(range(slots))


def test_shared_dependency_is_not_fused_and_runs_once(spark, spark_work):
    runs = spark.sparkContext.accumulator(0)

    def tag(_):
        import os as _os
        import uuid as _uuid

        runs.add(1)
        return _os.getpid(), _uuid.uuid4().hex

    a = delayed(tag)(0)
    b, c = delayed(lambda t: t)(a), delayed(lambda t: t)(a)  # noqa: E731
    d = delayed(lambda x, y: (x, y))(b, c)  # noqa: E731
    with spark_work() as w:
        x, y = d.compute(spark)
    assert x == y  # one execution's (pid, uuid) reached both consumers
    assert runs.value == 1
    assert x[0] != os.getpid()
    # `a` has two consumers, so it runs in its own job ahead of them
    assert w.jobs == 3


def test_fused_deps_in_containers_beside_scatter(spark, spark_work):
    # the in-task dependency marker must resolve inside list, tuple, dict
    # and set arguments (set members need the hashable form), next to a
    # scattered value's marker, all in one fused task
    from dask_ssh_docker_spark.futures import Client

    ref = Client(spark).scatter(100)
    a = delayed(_inc)(1)
    out = delayed(lambda *xs: xs)(  # noqa: E731
        [a, ref], (a, ref), {"a": a, "r": ref}, {a, ref}
    )
    with spark_work() as w:
        got = out.compute(spark)
    assert got == ([2, 100], (2, 100), {"a": 2, "r": 100}, {2, 100})
    assert (w.jobs, w.tasks) == (1, 1)


def test_task_slots_follow_the_master(spark):
    class _SC:
        master = "spark://m:7077"
        defaultParallelism = 7

    # the conftest session is local[N]: N threads, whatever the
    # shuffle-sized spark.default.parallelism says
    n = int(spark.sparkContext.master[len("local[") : -1])
    assert task_slots(spark.sparkContext) == n
    assert task_slots(_SC()) == 7
