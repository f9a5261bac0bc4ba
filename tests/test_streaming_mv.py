"""Incremental materialized-view maintenance (streaming/mv.py): algebraic
combine semantics, multi-batch equivalence with the one-shot aggregate,
and the exactly-once replayed-epoch guard."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_ssh_docker_spark.streaming.mv import (
    combine_snapshots,
    incremental_agg_mv,
    read_mv,
)


def test_combine_sum_min_max_null_semantics(spark):
    old = spark.createDataFrame(
        [Row(k=1, s=10, lo=5, hi=7), Row(k=2, s=None, lo=None, hi=None)],
        schema="k bigint, s bigint, lo bigint, hi bigint",
    )
    new = spark.createDataFrame(
        [Row(k=1, s=3, lo=9, hi=9), Row(k=3, s=1, lo=1, hi=1)],
        schema="k bigint, s bigint, lo bigint, hi bigint",
    )
    out = {
        r["k"]: r
        for r in combine_snapshots(
            old, new, ["k"], {"s": "sum", "lo": "min", "hi": "max"}
        ).collect()
    }
    assert out[1]["s"] == 13 and out[1]["lo"] == 5 and out[1]["hi"] == 9
    # NULL partial on one side: the other side's value survives (SQL SUM skip-null)
    assert out[2]["s"] is None and out[3]["s"] == 1
    assert set(out) == {1, 2, 3}


def test_combine_rejects_unknown_kind(spark):
    df = spark.createDataFrame([Row(k=1, m=1)])
    with pytest.raises(ValueError, match="unsupported merge kind"):
        combine_snapshots(df, df, ["k"], {"m": "median"})


def test_mv_multi_batch_equals_one_shot(spark, sf_dir):
    from dask_ssh_docker_spark.queries import REGISTRY

    mv = REGISTRY["stream_mv_user_totals"].fn(spark, sf_dir)
    from dask_ssh_docker_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        F.max("ts").alias("max_ts"),
    )
    a = {r["user_id"]: r for r in mv.collect()}
    b = {r["user_id"]: r for r in batch.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["n_events"] == b[k]["n_events"], k
        assert a[k]["total_value"] == b[k]["total_value"], k
        assert a[k]["max_ts"] == b[k]["max_ts"], k


def test_stream_mv_keeps_only_the_snapshot_it_reads(spark, sf_dir):
    """Once its stream ends, ``stream_mv_user_totals`` prunes the
    superseded versions; its snapshot dir is registered for removal at
    exit."""
    from dask_ssh_docker_spark.queries import REGISTRY
    from dask_ssh_docker_spark.queries.streaming import _MV_SNAPSHOT_DIRS

    n_dirs = len(_MV_SNAPSHOT_DIRS)
    mv = REGISTRY["stream_mv_user_totals"].fn(spark, sf_dir)
    [snap] = _MV_SNAPSHOT_DIRS[n_dirs:]
    assert sorted(os.listdir(snap)) == ["_LATEST", "v2"]
    assert mv.count() == read_mv(spark, snap, version=2).count() > 0
    with pytest.raises(FileNotFoundError, match="version 1 not found"):
        read_mv(spark, snap, version=1)


def test_mv_replayed_epoch_is_skipped(spark, sf_dir):
    """Simulate a crash between snapshot commit and checkpoint commit:
    re-running the stream against a snapshot dir whose pointer already
    records the final epoch must leave the snapshot bit-identical (no
    double merge)."""
    from dask_ssh_docker_spark.queries.streaming import _staged_event_slices

    base = _staged_event_slices(spark, sf_dir, 3)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def mk_stream():
        return (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(base)
        )

    def partial(b):
        return b.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    snap = tempfile.mkdtemp(prefix="mv_replay_snap_")
    kinds = {"n": "sum"}
    q = incremental_agg_mv(
        mk_stream(), partial, ["user_id"], kinds, snap,
        tempfile.mkdtemp(prefix="mv_replay_ckpt1_"),
    )
    q.awaitTermination()
    before = {r["user_id"]: r["n"] for r in read_mv(spark, snap).collect()}
    # fresh checkpoint -> Spark replays every epoch; pointer guard must skip all
    q2 = incremental_agg_mv(
        mk_stream(), partial, ["user_id"], kinds, snap,
        tempfile.mkdtemp(prefix="mv_replay_ckpt2_"),
    )
    q2.awaitTermination()
    after = {r["user_id"]: r["n"] for r in read_mv(spark, snap).collect()}
    assert before == after
    # and the totals equal the one-shot count
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    expect = {r["user_id"]: r["n"] for r in
              ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert after == expect


def test_mv_time_travel_versions(spark, sf_dir):
    """Every committed epoch stays readable (VERSION AS OF); each version's
    running totals are a prefix-merge of the final snapshot."""
    from dask_ssh_docker_spark.queries.streaming import _staged_event_slices

    base = _staged_event_slices(spark, sf_dir, 3)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )

    def partial(b):
        return b.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    snap = tempfile.mkdtemp(prefix="mv_tt_snap_")
    q = incremental_agg_mv(
        stream, partial, ["user_id"], {"n": "sum"}, snap,
        tempfile.mkdtemp(prefix="mv_tt_ckpt_"),
    )
    q.awaitTermination()
    totals = [
        sum(r["n"] for r in read_mv(spark, snap, version=v).collect())
        for v in range(3)
    ]
    assert totals == sorted(totals) and totals[0] > 0  # monotone prefix sums
    n_total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert totals[2] == n_total
    assert sum(r["n"] for r in read_mv(spark, snap).collect()) == n_total
    with pytest.raises(FileNotFoundError, match="version 9 not found"):
        read_mv(spark, snap, version=9)


def test_foreach_batch_plans_run_under_aqe(spark, tmp_path):
    """A ``foreachBatch`` function's frames plan under AQE: the batch
    session keeps ``spark.sql.adaptive.enabled`` and an aggregate over the
    batch is an ``AdaptiveSparkPlan``, so the MV merge's shuffle is
    coalesced at run time like any batch query's."""
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    seen = []

    def probe(batch_df, epoch_id):
        agg = batch_df.groupBy((F.col("id") % 3).alias("k")).count()
        plan = agg._jdf.queryExecution().executedPlan().nodeName()
        seen.append((batch_df.sparkSession.conf.get("spark.sql.adaptive.enabled"), plan))

    q = (
        spark.readStream.schema("id long").parquet(src)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen == [("true", "AdaptiveSparkPlan")]


def test_staged_slices_follow_a_regenerated_events_file(spark, sf_dir, tmp_path):
    """Rewriting ``events.parquet`` at the same path re-stages the
    slices: the staged rows always total the current file's rows."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from dask_ssh_docker_spark.queries.streaming import _staged_event_slices

    table = pq.read_table(f"{sf_dir}/events.parquet")
    bases = set()

    def staged_rows(t) -> int:
        pq.write_table(t, tmp_path / "events.parquet")
        base = _staged_event_slices(spark, str(tmp_path), 3)
        bases.add(base)
        slices = glob.glob(f"{base}/slice*.parquet")
        return sum(pq.read_metadata(f).num_rows for f in slices)

    try:
        n = table.num_rows
        assert staged_rows(table) == n
        assert staged_rows(table.slice(0, n // 2)) == n // 2
    finally:
        for base in bases:
            shutil.rmtree(base, ignore_errors=True)
