"""futures layer: the reference's Client.submit/map/scatter/gather idiom
(`bin/dask-ssh-docker:77-78`) must run on Spark workers with distributed
semantics — run-once tasks, one job per gathered wave, broadcast-backed
scatter."""

from __future__ import annotations

import os

import pytest

from dask_ssh_docker_spark.futures import Client, Future

# lambdas serialize by value (module-level defs would need the test
# module shipped to workers)
_inc = lambda x: x + 1  # noqa: E731
_add = lambda a, b: a + b  # noqa: E731
_pid_tag = lambda x: (os.getpid(), x)  # noqa: E731


@pytest.fixture(scope="module")
def client(spark):
    return Client(spark)


def test_submit_result_roundtrip(client):
    f = client.submit(sum, range(1000))
    assert isinstance(f, Future)
    assert not f.done()
    assert f.result() == 499500
    assert f.done()
    assert f.result() == 499500  # cached


def test_submit_runs_on_worker_not_driver(client):
    pid, val = client.submit(_pid_tag, 41).result()
    assert val == 41
    assert pid != os.getpid()


def test_map_gather_wave(client):
    futs = client.map(_inc, range(10))
    assert [f.done() for f in futs] == [False] * 10
    assert client.gather(futs) == list(range(1, 11))
    assert all(f.done() for f in futs)


def test_map_zips_multiple_iterables(client):
    futs = client.map(_add, [1, 2, 3], [10, 20, 30])
    assert client.gather(futs) == [11, 22, 33]


def test_gather_preserves_structure(client):
    f1 = client.submit(_inc, 1)
    f2 = client.submit(_inc, 2)
    got = client.gather({"a": f1, "b": [f2, 99], "c": "x"})
    assert got == {"a": 2, "b": [3, 99], "c": "x"}


def test_chained_futures_flow_values(client):
    a = client.submit(_inc, 1)         # 2
    b = client.submit(_inc, a)         # 3
    c = client.submit(_add, a, b)      # 5
    assert c.result() == 5
    assert a.done() and b.done()       # computed as dependencies


def test_chained_future_runs_once(client):
    # the task returns a fresh uuid per EXECUTION: if the dependency were
    # re-executed when the downstream future computes, the values would
    # differ (distributed semantics: a submitted task runs once)
    import uuid as _uuid

    make = lambda _: _uuid.uuid4().hex  # noqa: E731
    f1 = client.submit(make, 0)
    v1 = f1.result()
    f2 = client.submit(lambda s: s, f1)  # noqa: E731
    assert f2.result() == v1


def test_scatter_broadcast_roundtrip(client):
    data = list(range(10000))
    ref = client.scatter(data)
    f = client.submit(sum, ref)
    assert f.result() == sum(data)
    # gather on a ref yields the value itself
    assert client.gather(ref) == data


def test_scatter_list_elementwise(client):
    refs = client.scatter([[1, 2], [3, 4]])
    assert isinstance(refs, list) and len(refs) == 2
    futs = [client.submit(sum, r) for r in refs]
    assert client.gather(futs) == [3, 7]


def test_scatter_inside_container_arg(client):
    ref = client.scatter({"w": 10})
    f = client.submit(lambda d: d[0]["w"] + d[1], [ref, 5])  # noqa: E731
    assert f.result() == 15


def test_submit_rejects_non_callable(client):
    with pytest.raises(TypeError, match="callable"):
        client.submit(42)


def test_gather_set_of_futures(client):
    # ADVICE r6: `find` traversed sets but `sub` did not — a gathered set
    # returned raw Future objects instead of values
    f1, f2 = client.submit(_inc, 10), client.submit(_inc, 20)
    got = client.gather({f1, f2, 99})
    assert got == {11, 21, 99}
    assert not any(isinstance(v, Future) for v in got)


def test_map_wave_is_one_job_within_slots(spark, client, spark_work):
    from dask_ssh_docker_spark.session import task_slots

    slots = task_slots(spark.sparkContext)
    for _ in range(2):  # a measured wave still spreads over its partitions
        futs = client.map(_inc, range(8))
        with spark_work() as w:
            assert client.gather(futs) == list(range(1, 9))
        assert (w.jobs, w.tasks) == (1, min(8, slots))


def test_dependency_future_done_after_downstream_gather(client, spark_work):
    # the dependency runs inside its consumer's task, yet completes its
    # own future: a.result() is served from the run-once cache
    a = client.submit(_inc, 1)
    b = client.submit(_inc, a)
    with spark_work() as w:
        assert client.gather(b) == 3
    assert (w.jobs, w.tasks) == (1, 1)
    assert a.done()
    with spark_work() as w:
        assert a.result() == 2
    assert w.jobs == 0
