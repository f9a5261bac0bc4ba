from __future__ import annotations

import contextlib
import os
import sys
import uuid
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dask_ssh_docker_spark.session import get_session

    # keep every stage in the status store: past spark.ui.retainedStages
    # (1000) it evicts skipped stages first, and the query profiler's
    # tracer reads each job's skipped stages
    s = get_session(
        "pytest",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]",
        conf={"spark.ui.retainedStages": "100000"},
    )
    yield s


@pytest.fixture(autouse=True)
def _no_delayed_costs():
    """Each test starts with no measured ``delayed`` costs: the table
    lives per process, and an earlier test's measurements would let a
    first compute run as one task and change the jobs a test pins."""
    mod = sys.modules.get("dask_ssh_docker_spark.delayed")
    if mod is not None:
        mod._COSTS.clear()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def spark_work(spark):
    """``with spark_work() as w: ...`` — afterwards ``w.jobs`` / ``w.tasks``
    count the Spark jobs and tasks the block launched, read from
    ``sc.statusTracker()`` under a fresh job group."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"spark-work-{uuid.uuid4().hex}"
        work = SimpleNamespace(jobs=0, tasks=0)
        sc.setJobGroup(group, group)
        try:
            yield work
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        work.jobs = len(ids)
        work.tasks = sum(
            st.getStageInfo(s).numTasks for j in ids for s in st.getJobInfo(j).stageIds
        )

    return count
