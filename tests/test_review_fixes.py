"""Regression pins for the round-1 code-review fixes."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_salted_join_rejects_outer(spark):
    from dask_ssh_docker_spark.operators import salted_join

    l = spark.range(3).withColumnRenamed("id", "k")
    r = spark.range(1).withColumnRenamed("id", "k")
    for how in ("full", "right", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(l, r, "k", how=how)


def test_rollup_cascade_composes_two_levels(spark):
    from dask_ssh_docker_spark.operators.rollup_cascade import reaggregate, rollup_hourly
    from dask_ssh_docker_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    monthly = reaggregate(reaggregate(rollup_hourly(ev), "1 day", final=False), "30 days")
    assert monthly.agg(F.sum("n_events")).first()[0] == ev.count()
    assert "approx_users" in monthly.columns


def test_minhash_band_validation(spark):
    from dask_ssh_docker_spark.operators.dedup import (
        hashed_shingles,
        minhash_candidates,
        minhash_signatures,
    )

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b c d"]}))
    sh = hashed_shingles(df, "text", "doc_id")
    with pytest.raises(ValueError, match="bands"):
        minhash_candidates(minhash_signatures(sh, 8), num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="bands"):
        minhash_candidates(minhash_signatures(sh, 32), num_hashes=32, bands=12)


def test_decode_string_ids(spark):
    from dask_ssh_docker_spark.operators.multimodal import decode_image_meta

    df = spark.createDataFrame(
        pd.DataFrame({"uri": ["s3://b/x.png"], "blob": [b"\x89PNG1234"]})
    )
    r = decode_image_meta(df, "blob", "uri").first()
    assert r.uri == "s3://b/x.png" and r.decode_ok


def test_asof_nearest_date_type(spark):
    from dask_ssh_docker_spark.operators.asof import merge_asof

    l = spark.createDataFrame(
        pd.DataFrame({"d": pd.to_datetime(["2024-01-05"]).date, "x": [1]})
    )
    r = spark.createDataFrame(
        pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-06"]).date, "y": [10, 20]})
    )
    assert merge_asof(l, r, on="d", direction="nearest").first().y == 20


def test_lsh_empty_frame_clear_error(spark):
    from dask_ssh_docker_spark.operators.similarity import LSHModel, lsh_bucketed

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    # dim is required — a model without it fails at once (no inference job)
    with pytest.raises(TypeError, match="dim"):
        LSHModel()
    # with explicit dim an empty frame is fine
    assert lsh_bucketed(empty, "vec_id", "embedding", LSHModel(dim=4)).count() == 0


def test_foreach_batch_epoch_retry_idempotent(spark, tmp_path):
    from dask_ssh_docker_spark.streaming import foreach_batch_parquet, stream_events

    out = str(tmp_path / "out")
    q = foreach_batch_parquet(stream_events(spark, SF), out, str(tmp_path / "ck1"))
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    # fresh checkpoint, same sink = a re-delivery of epoch 0
    q2 = foreach_batch_parquet(stream_events(spark, SF), out, str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1


def test_remote_master_shuffle_sizing():
    from dask_ssh_docker_spark.session import default_conf

    assert int(default_conf(master="spark://h:7077")["spark.sql.shuffle.partitions"]) >= 400
    # local[N] is parsed from the master string, independent of host CPUs
    assert int(default_conf(master="local[8]")["spark.sql.shuffle.partitions"]) == 8
    assert int(default_conf(master="local[2]")["spark.sql.shuffle.partitions"]) == 8  # floor


def test_langid_chinese_substring(spark):
    from dask_ssh_docker_spark.functions.text import lang_id

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["这是我的书, 他说的是真的", "the cat sat on the mat"]})
    )
    assert [r[0] for r in df.select(lang_id("text")).collect()] == ["zh", "en"]


# --- round-2 review pins ---


def test_jaccard_filters_raw_not_rounded(spark):
    """Boundary pair: raw jaccard just below threshold must be dropped
    even though it rounds up to the threshold."""
    from dask_ssh_docker_spark.operators.dedup import jaccard_verify

    # true boundary: raw = 17/48 = 0.3541666..; round6 = 0.354167 > raw.
    # threshold BETWEEN them distinguishes raw-filter (drop) from
    # rounded-filter (keep) - the exact regression this pin guards.
    sh = spark.createDataFrame(
        pd.DataFrame(
            {
                "__id": [1, 2],
                "__sh": [[f"c{i}" for i in range(17)] + [f"a{i}" for i in range(14)],
                         [f"c{i}" for i in range(17)] + [f"b{i}" for i in range(17)]],
            }
        )
    )
    cands = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    raw = 17 / 48
    thr = (raw + round(raw, 6)) / 2  # strictly between raw and its rounding
    assert raw < thr < round(raw, 6)
    out = jaccard_verify(cands, sh, thr)
    assert out.count() == 0  # raw filter drops; a rounded filter would keep
    out2 = jaccard_verify(cands, sh, raw - 1e-9)
    assert out2.count() == 1 and abs(out2.first().jaccard - round(raw, 6)) < 1e-9


def test_stream_staging_survives_source_replacement(spark, tmp_path):
    import os
    import shutil

    from dask_ssh_docker_spark.streaming import _staged_events_dir

    src = str(tmp_path / "sf")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{src}/events.parquet")
    d = _staged_events_dir(src)
    os.remove(f"{src}/events.parquet")  # dangling
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{src}/events.parquet")
    d2 = _staged_events_dir(src)  # must repair silently
    assert d == d2 and os.path.exists(f"{d2}/events.parquet")


def test_run_to_completion_no_view_leak(spark):
    from dask_ssh_docker_spark.streaming import (
        run_to_completion,
        stream_events,
        tumbling_counts,
    )

    before = {t.name for t in spark.catalog.listTables()}
    out = run_to_completion(tumbling_counts(stream_events(spark, SF)))
    assert out.count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before


def test_run_to_completion_max_rows_guard(spark):
    """The memory-sink path refuses to hold more than max_rows on the
    driver — and cleans up its sink table when it refuses."""
    from dask_ssh_docker_spark.streaming import (
        run_to_completion,
        stream_events,
        tumbling_counts,
    )

    before = {t.name for t in spark.catalog.listTables()}
    with pytest.raises(ValueError, match="max_rows"):
        run_to_completion(tumbling_counts(stream_events(spark, SF)), max_rows=1)
    assert {t.name for t in spark.catalog.listTables()} == before


def test_local_frame_rejects_duplicate_field_names(spark):
    # a repeated field name would make the frame's columns ambiguous by
    # name; DDL and StructType schemas, empty rows included, all build a
    # job-free LocalRelation
    from pyspark.sql.types import LongType, StructField, StructType

    from dask_ssh_docker_spark.functions.localrel import local_frame

    ddl = local_frame(spark, [(1, 2)], "a int, b int")
    assert ddl.collect()[0] == (1, 2)
    empty = local_frame(spark, [], StructType([StructField("a", LongType())]))
    assert empty.collect() == []
    for df in (ddl, empty):  # job-free Arrow local relation, empty too
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan, plan
    with pytest.raises(ValueError, match="duplicate"):
        local_frame(spark, [(1, 2)], "a int, a int")
