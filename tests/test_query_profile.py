"""tools/query_profile.py: the layered per-query record on the benchmark's
tracer.  Jobs are counted by job-id interval, not by job group, so the
micro-batch jobs a stream runs on its own thread are counted too."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from query_profile import profile  # noqa: E402

NAMES = ["dedup_minhash_clusters", "stream_mv_user_totals", "text_quality"]


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return {r["name"]: r for r in profile(spark, NAMES, [sf_dir])}


def _group_jobs(spark, sf_dir, spark_work, name) -> int:
    """Jobs ``spark_work`` counts for one build and noop write of ``name``."""
    from dask_ssh_docker_spark.queries import REGISTRY

    with spark_work() as w:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return w.jobs


def _jobs(rec) -> list[dict]:
    return rec["eager_jobs"] + rec["exec_jobs"]


def test_one_record_per_query_without_errors(records, sf_dir):
    assert sorted(records) == sorted(NAMES)
    for rec in records.values():
        assert rec["error"] is None and rec["sf"] == sf_dir
        assert len(rec["walls"]) == 3 and rec["wall_best"] == min(rec["walls"])
        assert rec["floor_probe"] > 0 and rec["wall_norm"] <= rec["wall_best"]


def test_batch_jobs_match_the_job_group_count(records, spark, sf_dir, spark_work):
    rec = records["dedup_minhash_clusters"]
    assert len(_jobs(rec)) == _group_jobs(spark, sf_dir, spark_work, rec["name"])
    assert any(j["callsite"].startswith("collect at ") for j in rec["eager_jobs"])


def test_stream_micro_batch_jobs_are_counted(records, spark, sf_dir, spark_work):
    """The job group sees only the jobs of the calling thread; the
    micro-batches run on the stream's thread and carry its description."""
    rec = records["stream_mv_user_totals"]
    assert len(_jobs(rec)) > _group_jobs(spark, sf_dir, spark_work, rec["name"])
    assert any("batch =" in (j["desc"] or "") for j in _jobs(rec))


def test_stream_mv_runs_at_most_ten_jobs(records):
    """Three micro-batches: the first partial-aggregates and writes (2
    jobs), each later one also unions the snapshot in and re-aggregates
    (3: the snapshot is read with its known schema, no inference job);
    then ``read_mv`` infers the result's schema (1) and the write runs
    (1).  A full outer merge join with schema inference ran 14."""
    assert len(_jobs(records["stream_mv_user_totals"])) <= 10


def test_stream_mv_reads_its_result_without_schema_inference(records):
    """``read_mv`` reads the snapshot with the schema its pointer records,
    and each micro-batch runs one aggregation (its shuffle, then the
    snapshot write: 2 jobs), so the three micro-batches (2 + 2 + 2 jobs)
    and the write (1) are all that run."""
    assert len(_jobs(records["stream_mv_user_totals"])) <= 7


def test_lazy_query_has_no_eager_jobs(records):
    rec = records["text_quality"]
    assert rec["eager_jobs"] == [] and rec["exec_jobs"]
    assert rec["py4j_calls"] > 0


def test_a_raising_query_is_reported_not_dropped(spark, sf_dir, monkeypatch):
    from dask_ssh_docker_spark.queries.registry import REGISTRY, QuerySpec

    def boom(spark, sf_dir):
        raise ValueError("boom")

    monkeypatch.setitem(REGISTRY, "boom", QuerySpec("boom", boom, None))
    [rec] = profile(spark, ["boom"], [sf_dir])
    assert rec["error"] == "ValueError: boom" and rec["name"] == "boom"
    assert rec["eager_jobs"] == [] and rec["exec_jobs"] == []
