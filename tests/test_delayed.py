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


# --- plan choice: measured body and level costs pick levels or one task ---


def _wide_deps(n_leaves: int, group: int) -> dict[str, set[str]]:
    """``n_leaves`` leaves summed per ``group``, then in total."""
    deps: dict[str, set[str]] = {f"l{i}": set() for i in range(n_leaves)}
    for g in range(0, n_leaves, group):
        deps[f"g{g}"] = {f"l{i}" for i in range(g, g + group)}
    deps["t"] = {k for k in deps if k[0] == "g"}
    return deps


def test_fuse_cheap_multi_level_graph():
    from dask_ssh_docker_spark.delayed import _fuse, _fused_levels

    deps = _wide_deps(16, 4)
    est = dict.fromkeys(deps, 1e-5)
    assert _fuse(_fused_levels(deps), est, 0.03, slots=4)


def test_fuse_needs_every_estimate_and_a_level_overhead():
    from dask_ssh_docker_spark.delayed import _fuse, _fused_levels

    levels = _fused_levels(_wide_deps(16, 4))
    est = dict.fromkeys(_wide_deps(16, 4), 1e-5)
    assert not _fuse(levels, est, None, slots=4)
    est["l3"] = None
    assert not _fuse(levels, est, 0.03, slots=4)


def test_fuse_never_takes_a_single_level():
    from dask_ssh_docker_spark.delayed import _fuse, _fused_levels

    wave = {f"m{i}": set() for i in range(8)}  # a Client.map wave
    assert not _fuse(_fused_levels(wave), dict.fromkeys(wave, 0.0), 10.0, slots=4)
    chain = {"a": set(), "b": {"a"}, "c": {"b"}}  # one fused task already
    assert not _fuse(_fused_levels(chain), dict.fromkeys(chain, 0.0), 10.0, slots=4)


def test_fuse_keeps_levels_for_heavy_bodies():
    from dask_ssh_docker_spark.delayed import _fuse, _fused_levels

    deps = _wide_deps(8, 8)  # 8 leaves -> one sum -> total
    est = {k: 0.3 if k[0] == "l" else 1e-5 for k in deps}
    assert not _fuse(_fused_levels(deps), est, 0.03, slots=4)
    # one slot runs a level's tasks one after another anyway
    assert _fuse(_fused_levels(deps), est, 0.03, slots=1)


def test_fuse_rule_compares_the_busiest_dealt_partition():
    from dask_ssh_docker_spark.delayed import _fuse, _fused_levels

    # levels: [a, b, c] (dealt a,c | b on 2 slots), then d:
    # levels cost (O + 1.5) + (O + 0); one task costs O + 2.5
    deps = {"a": set(), "b": set(), "c": set(), "d": {"a", "b", "c"}}
    est = {"a": 1.0, "b": 1.0, "c": 0.5, "d": 0.0}
    levels = _fused_levels(deps)
    assert not _fuse(levels, est, 1.0, slots=2)
    assert _fuse(levels, est, 1.01, slots=2)


def test_body_keys():
    import functools
    import operator

    from dask_ssh_docker_spark.delayed import _body_key

    def make(k):
        return lambda x: x + k

    assert _body_key(make(1)) is make(2).__code__  # closures share a code
    assert _body_key(functools.partial(make(1), 3)) is make(1).__code__
    part = functools.partial(functools.partial(operator.add, 1), 2)
    assert _body_key(part) is operator.add
    assert _body_key(sum) is sum

    class Unhashable:
        __hash__ = None

        def __call__(self, x):
            return x

    assert _body_key(Unhashable()) is None


def _wide() -> Delayed:
    incs = [delayed(_inc)(i) for i in range(16)]
    return delayed(sum)([delayed(sum)(incs[i : i + 4]) for i in range(0, 16, 4)])


def test_repeated_cheap_graph_runs_as_one_task(spark, spark_work):
    slots = task_slots(spark.sparkContext)
    with spark_work() as first:
        a = _wide().compute(spark)
    with spark_work() as second:
        b = _wide().compute(spark)
    assert a == b == sum(range(1, 17))
    assert (first.jobs, first.tasks) == (3, min(16, slots) + min(4, slots) + 1)
    assert (second.jobs, second.tasks) == (1, 1)


def test_graph_with_an_unmeasured_callable_keeps_levels(spark, spark_work):
    slots = task_slots(spark.sparkContext)
    _wide().compute(spark)

    class Total:  # unhashable: its body time is never kept
        __hash__ = None

        def __call__(self, xs):
            return sum(xs)

    incs = [delayed(_inc)(i) for i in range(16)]
    groups = [delayed(sum)(incs[i : i + 4]) for i in range(0, 16, 4)]
    for total in (delayed(lambda xs: sum(xs))(groups), delayed(Total())(groups)):
        with spark_work() as w:
            assert total.compute(spark) == sum(range(1, 17))
        assert (w.jobs, w.tasks) == (3, min(16, slots) + min(4, slots) + 1)
    with spark_work() as w:  # the lambda is measured now; Total never is
        delayed(Total())(groups).compute(spark)
    assert w.jobs == 3


def test_heavy_bodies_keep_levels_and_run_in_parallel(spark, spark_work):
    import time

    def nap(i):
        time.sleep(0.2)
        return i

    slots = task_slots(spark.sparkContext)
    if slots < 2:
        pytest.skip("parallelism needs at least two task slots")
    for _ in range(3):
        total = delayed(sum)([delayed(nap)(i) for i in range(8)])
        t0 = time.perf_counter()
        with spark_work() as w:
            assert total.compute(spark) == sum(range(8))
        wall = time.perf_counter() - t0
        assert (w.jobs, w.tasks) == (2, min(8, slots) + 1)
        assert wall < 0.75 * 8 * 0.2  # well under the bodies run one by one


def test_one_task_plan_surfaces_a_body_exception(spark, spark_work):
    def check(x):
        if x < 0:
            raise ValueError(f"negative input {x}")
        return x

    def graph(sign):
        return delayed(sum)([delayed(check)(sign * i) for i in range(1, 5)])

    assert graph(1).compute(spark) == 10
    with spark_work() as w:
        with pytest.raises(Exception, match="negative input"):
            graph(-1).compute(spark)
    assert (w.jobs, w.tasks) == (1, 1)


def test_one_task_plan_runs_on_a_worker(spark, spark_work):
    def graph():
        return delayed(set)([delayed(_pid)(i) for i in range(4)])

    graph().compute(spark)
    with spark_work() as w:
        pids = graph().compute(spark)
    assert (w.jobs, w.tasks) == (1, 1)
    assert len(pids) == 1 and os.getpid() not in pids
